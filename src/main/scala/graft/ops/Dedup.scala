package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard (inverted-index join + exact
  * verify), MinHash+LSH (shingle → minhash → band → bucket join),
  * SimHash (bit-vote fingerprint → band join on 16-bit chunks).
  *
  * Scale posture (100 TB):
  *  - Exact dedup is one shuffle on a 128-bit content hash — never on
  *    the text itself (keys stay 16 bytes on the wire).
  *  - Near-dup NEVER cross-joins. Candidate generation is an equi-join
  *    on shared shingles / LSH band buckets, i.e. an inverted index;
  *    cost is Σ bucket². The `maxBucket` guard drops degenerate buckets
  *    (stopword-like shingles) that would go quadratic — standard
  *    practice, and exact-dup collapse should run first so identical
  *    docs don't flood one bucket.
  *  - SKEW below the guard: maxBucket caps per-bucket JOIN cost
  *    (≤ maxBucket² rows from one gram), but a shuffle PARTITION still
  *    aggregates many surviving buckets, and natural-language gram
  *    frequencies are Zipfian — a task can draw several near-cap grams.
  *    First line of defense is AQE's skew-join split
  *    (spark.sql.adaptive.skewJoin — on by default, runs under the
  *    posting self-join's sort-merge plan; pinned executable in
  *    PlanPinsSpec), which re-splits oversized partitions at runtime
  *    without changing results. If a deployment sees residual
  *    stragglers (very low maxBucket budgets concentrate mass), the
  *    fallback is standard hot-band salting: append `pmod(hash(doc_id),
  *    S)` to the join key of grams whose df exceeds maxBucket/S and
  *    replicate the other side S ways — recall unchanged, the hot
  *    bucket's Σ² cost spread over S tasks.
  *  - All shingle/minhash/simhash computation is Catalyst higher-order
  *    functions over arrays (codegen'd, no UDFs); signatures are
  *    fixed-width arrays of longs, columnar-friendly.
  *  - ANSI-safe arithmetic: minhash multiplies keep operands < 2^31 so
  *    a*x+b stays under 2^62.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups keyed by md5(text). */
  def exactDupGroups(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))

  /** [[exactDupGroups]] through the REAL Structured Streaming
    * micro-batch engine — the ingest-time dedup accounting a corpus
    * intake job runs continuously: documents arrive as files, the
    * per-content-hash (first_doc, n_copies) aggregate updates per
    * micro-batch. Run here with an AvailableNow trigger into a
    * memory sink so the end-of-stream aggregate is a batch frame the
    * driver can oracle-check against plain GROUP BY SQL — the same
    * engine/plan a continuous deployment runs, only the trigger
    * differs (pattern shared with the kdc `*_streaming` rows).
    * Complete-mode aggregation is deterministic (min/count are
    * arrival-order-free), unlike streaming dropDuplicates whose
    * surviving row depends on arrival order. State is one row per
    * distinct content hash; a production run bounds it with a
    * watermark on ingest time ([[graft.streaming.StreamingPipeline
    * .dedupedEvents]] shows the watermarked variant). */
  def exactDupGroupsStreaming(s: SparkSession, dir: String): DataFrame = {
    val sch = docs(s, dir).schema
    // the source path is a single parquet FILE; hand the file source a
    // glob so the inferred basePath is its parent DIRECTORY (a bare
    // file path fails the source's basePath-is-a-directory check)
    val src = s.readStream.schema(sch).parquet(s"$dir/documents.parque[t]")
    graft.streaming.StreamingPipeline.runOneShot(
      src.groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
      "dedup_stream", "complete", Seq("content_hash"))
  }

  /** Exact dedup keeping the lowest doc_id per distinct text. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------------------- shingles

  /** (doc_id, shingles) where shingles = distinct word 3-grams.
    * Docs with fewer than 3 tokens are excluded (no shingle).
    *
    * Shingling runs in the native [[graft.functions.WordNGrams]]
    * kernel — one tight loop per row. The equivalent
    * `array_distinct(transform(sequence(...), concat_ws(...)))` HOF
    * stack evaluates an interpreted lambda per element × pass and
    * measured ~5 s per lineage pass at sf0.1 (and the Jaccard family
    * pays the shingling lineage up to three times per query). */
  private[ops] def shingled(s: SparkSession, dir: String): DataFrame =
    shingledOn(docs(s, dir))

  /** Generic variant over any (doc_id, text) frame. */
  private[ops] def shingledOn(df: DataFrame): DataFrame =
    df
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        graft.functions.textFunctions.word_ngrams(col("t"), 3).as("shingles"))

  /** Exact n-gram Jaccard near-dup pairs at `threshold`, generated via
    * an inverted-index equi-join on shingles (no cross join).
    *
    * The intersection size falls out of the posting join itself —
    * |A∩B| = number of shingles the pair co-occurs under, aggregated
    * with a map-side-combining groupBy — and |A∪B| = |A|+|B|-|A∩B|
    * from a per-doc size table. No per-pair array arithmetic at all:
    * the earlier array_intersect-per-candidate formulation spent 31 s
    * at sf0.1 where this one spends ~3 s, and the gap grows with
    * candidate count. `maxBucket` drops postings of degenerate
    * (stopword-like) shingles whose buckets would go quadratic. */
  def jaccardPairs(s: SparkSession, dir: String,
                   threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    jaccardPairsOn(docs(s, dir), threshold, maxBucket)

  /** The bounded-posting candidate pipeline shared by every
    * set-overlap scorer (Jaccard, containment): shingle → 8-byte
    * M61+fmix64 posting hashes (the self-join shuffles and compares
    * longs, not ~25-byte strings; the hash family is
    * DuckDB-reproducible, so even a collision — P ≈ n²/2^65 — yields
    * identical output on both engines rather than a divergence) →
    * df-cap anti-join → persisted self-join. Returns
    * (doc_a, doc_b, n_shared, sz_a, sz_b). Sizes come from the SAME
    * bounded posting set, so when maxBucket drops a degenerate
    * shingle the semantics stay consistent: exact overlap over the
    * universe of shingles with df ≤ maxBucket (a historical bug had
    * sz counting full sets while n_shared didn't, silently
    * underestimating whenever the guard fired — one implementation
    * here means one place to keep that invariant). */
  private[ops] def boundedSharedCounts(docsDf: DataFrame, maxBucket: Int): DataFrame =
    boundedSharedCountsPost(
      shingledOn(docsDf).select(col("doc_id"),
        explode(graft.functions.textFunctions.m61_token_hashes(col("shingles"))).as("g")),
      maxBucket)

  /** One persisted (doc_id, hs: array<bigint>) hashed-shingle frame —
    * the shared upstream of the jaccard AND simhash legs in the
    * multi-signal queries: both derive from m61_token_hashes over the
    * same word 3-gram shingles, and computing the scan→split→shingle→
    * hash lineage once per composed query (instead of once per leg)
    * removes a full corpus pass. Cache lifetime: the
    * [[boundedSharedCounts]] contract. */
  private def hashedShingles(docsDf: DataFrame): DataFrame =
    shingledOn(docsDf)
      .select(col("doc_id"),
        graft.functions.textFunctions.m61_token_hashes(col("shingles")).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[boundedSharedCounts]] over an already-built (doc_id, g) posting
    * frame — the capped-universe size invariant documented above
    * lives here and nowhere else.
    *
    * ONE groupBy(g) folds each posting bucket into a sorted doc-id
    * array whose pairs come from [[PairGen.pairs]]; the df-cap is a
    * post-aggregation `size(ds) <= maxBucket` filter (the retired
    * pipeline paid a SEPARATE full posting pass for the hot set plus a
    * broadcast anti-join to apply it). Per-doc sizes explode off the
    * same cached lists — count of surviving buckets containing the doc
    * ≡ the retired per-doc bounded-posting count. Same-window isolated
    * A/B vs the join shape: list 2.51/2.57 s, join 2.68/2.68/2.91 s
    * (dedup_jaccard_pairs, sf0.1; the ObjectHashAggregate's
    * per-singleton-bucket overhead is more than paid for by dropping
    * the hot-set pass, the anti-join and the SMJ sorts — details in
    * OPTIMIZATION_r14.md).
    *
    * CACHE LIFETIME CONTRACT (applies to every mid-plan persist in
    * graft.ops): the cached block backs the RETURNED lazy plan, so
    * the operator cannot unpersist it before the caller's action.
    * The serial entry points (Verify/Bench/PlanSnap) run
    * graft.Harness.release (spark.catalog.clearCache() plus the
    * checkpoint sweep) between queries, which reclaims these; a
    * caller embedding an operator in a long-lived session owns the
    * same cleanup (clearCache, or unpersist after its consuming
    * action). Composed queries (multi-signal) accumulate
    * at most their generators' caches within one query lifetime. */
  private def boundedSharedCountsPost(posting: DataFrame, maxBucket: Int): DataFrame = {
    val lists = posting.groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) <= maxBucket)
      .select(col("ds"))
      // read twice (pair generation + per-doc sizes); see the cache
      // lifetime contract above
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = lists.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    PairGen.pairs(lists, col("ds"), splitHubs = maxBucket > PairGen.Chunk)
      .groupBy(col("x").as("doc_a"), col("y").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
  }

  /** Generic variant over any (doc_id, text) frame. */
  def jaccardPairsOn(docsDf: DataFrame,
                     threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    jaccardFromCounts(boundedSharedCounts(docsDf, maxBucket), threshold)

  /** Jaccard leg over a shared [[hashedShingles]] frame (multi-signal
    * composition): identical pipeline, the postings explode off the
    * persisted hash arrays instead of re-shingling the corpus. */
  private def jaccardPairsFromHashed(hashed: DataFrame,
                                     threshold: Double = 0.5,
                                     maxBucket: Int = 1000): DataFrame =
    jaccardFromCounts(
      boundedSharedCountsPost(
        hashed.select(col("doc_id"), explode(col("hs")).as("g")), maxBucket),
      threshold)

  private def jaccardFromCounts(counts: DataFrame, threshold: Double): DataFrame =
    counts
      .withColumn("jac",
        col("n_shared").cast("double") / (col("sz_a") + col("sz_b") - col("n_shared")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))

  // -------------------------------------------------------------- minhash

  /** Fixed hash family h_i(x) = (a_i·x + b_i) mod p over x ∈ [0, 2^31).
    * Coefficients are deterministic (seed 42) so results are stable
    * across runs and resumable at scale. */
  private val P = 2147483647L // 2^31 - 1, prime
  private[ops] val coeffs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(64)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
                  rnd.nextInt(Int.MaxValue).toLong))
  }

  /** (doc_id, sig: array<bigint> of 64 minhashes). Computed by the
    * one-pass native [[graft.functions.MinHashSig]] kernel (64
    * multiplies per shingle) over x = fmix64(M61(shingle)) mod P —
    * the 64-pass `array_min(transform(...))` HOF stack it replaces
    * evaluated an interpreted lambda per element × pass. */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    shingled(s, dir)
      .select(col("doc_id"),
        graft.functions.textFunctions.minhash_sig(col("shingles"), coeffs, P).as("sig"))

  /** MinHash-LSH near-dup pairs: 32 bands × 2 rows (with 64 hashes,
    * P[candidate] = 1-(1-j²)³² — ≥ 0.9999 at the j=0.5 verification
    * threshold and ≈ 1-1e-15 at j=0.8; the earlier 16×4 banding missed
    * a j=0.5 pair with probability (1-0.5⁴)¹⁶ ≈ 0.36, which mattered
    * once the driver oracle became the EXACT near-dup set), then exact-Jaccard
    * verification of candidates at `threshold` (precision 1 by
    * construction; the looser bands only cost extra verified-and-
    * rejected candidates, never wrong output).
    *
    * The band join shuffles 32 small (band, hash64) keys per doc —
    * at 100 TB this is the standard sub-linear near-dup plan: no pair
    * enumeration outside colliding buckets. */
  /** Banding is a RECALL/COST dial and is exposed as one: the default
    * (32, 2) is recall-first — right for dedup, where a missed
    * duplicate poisons training data while an extra candidate only
    * costs its exact verification — but on corpora with high baseline
    * inter-document similarity (background j ≈ 0.1 ⇒ ~27% of pairs
    * collide in some band) a cost-first caller should drop to
    * (16, 4), the classic (1/b)^(1/r)=0.5 midpoint tuning, at the
    * price of ~36% misses AT the 0.5 threshold boundary. */
  def minhashLshPairs(s: SparkSession, dir: String,
                      threshold: Double = 0.5,
                      bands: Int = 32, rows: Int = 2): DataFrame = {
    require(bands * rows <= 64, "banding exceeds the 64-hash signature")
    // ONE shingling pass feeds both the signature path and the
    // verification postings below (shingling is the dominant
    // per-document cost; deriving it twice measured ~1 s extra at
    // sf0.1).
    val sh = shingledOn(docs(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = sh.select(col("doc_id"),
      graft.functions.textFunctions.minhash_sig(col("shingles"), coeffs, P).as("sig"))
    val bandsDf = sig.selectExpr("doc_id",
      s"""explode(transform(sequence(0, ${bands - 1}),
         |  b -> struct(b AS band, xxhash64(concat_ws(',', slice(sig, b * $rows + 1, $rows))) AS bh)
         |)) AS bb""".stripMargin)
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandsDf.as("a").join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Exact verification via a FULL-UNIVERSE posting-count join — the
    // uncapped twin of [[boundedSharedCounts]], restricted to candidate
    // docs. |A∩B| falls out of a (doc, g) equi-join on 8-byte
    // M61+fmix64 shingle hashes and |A∪B| = sz_a + sz_b − n_shared
    // from per-doc posting sizes, so verification shuffles longs —
    // never whole shingle arrays per candidate (the prior
    // array_intersect formulation put hundreds of strings on the wire
    // per pair). Shingles are distinct per doc (word_ngrams dedupes),
    // so counts ARE set sizes; precision 1 vs exact Jaccard is
    // unchanged. Zero-overlap band collisions drop out of the inner
    // join — indistinguishable from jac = 0 at any threshold > 0.
    // Postings derive from the SAME persisted shingle lineage as the
    // signatures (an explode is a cheap map over the cache; no second
    // scan or shingling pass), and the cand join itself restricts them
    // to colliding docs — the one full-posting shuffle moves 16-byte
    // (doc_id, g) rows, which is the point. Set sizes come straight
    // from size(shingles) on the cached frame: zero extra shuffles.
    val posting = sh.select(col("doc_id"),
      explode(graft.functions.textFunctions.m61_token_hashes(col("shingles"))).as("g"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("sz"))
    cand
      .join(posting.select(col("doc_id").as("doc_a"), col("g")), "doc_a")
      .join(posting.select(col("doc_id").as("doc_b"), col("g")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jac",
        col("n_shared").cast("double") / (col("sz_a") + col("sz_b") - col("n_shared")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------------- clusters

  /** Near-duplicate CLUSTERS: connected components of the Jaccard pair
    * graph, labeled by the smallest doc_id in each component (the
    * canonical representative a dedup keep-policy needs — pairs alone
    * under-remove when similarity is transitive: a~b, b~c, a≁c must
    * still collapse to one exemplar).
    *
    * Min-label propagation with POINTER JUMPING iterated to fixpoint:
    * each round floods labels one edge hop AND then contracts through
    * the label table itself (label(id) ← label(label(id))), so the
    * effective reach doubles per round — O(log diameter) rounds
    * instead of O(diameter), the classic shortcut of large-star/
    * pointer-doubling connectivity. The loop is DRIVER-side but each
    * iteration is two distributed joins over the PAIR GRAPH only,
    * which is ≪ corpus by construction (it is the LSH/inverted-index
    * output, not all documents). The convergence check is an
    * aggregate on that same small frame. Oracle: a DuckDB recursive
    * CTE computing reachability-min over the identical pair set. */
  def neardupClusters(s: SparkSession, dir: String,
                      threshold: Double = 0.5): DataFrame =
    clustersFromEdges(jaccardPairs(s, dir, threshold)
      .select(col("doc_a"), col("doc_b")))

  /** Connected components over an (doc_a, doc_b) edge frame, labeled
    * by component-min doc_id.
    *
    * Size-gated hybrid: the edge set is the NEAR-DUP PAIR graph — by
    * construction orders of magnitude smaller than the corpus — so up
    * to `maxLocalEdges` edges it is collected once and solved with
    * driver-side union-find: one job, zero iterations, exact same
    * labels. Beyond that the distributed pointer-jumping loop takes
    * over. The gate costs one count on a frame the loop would have to
    * materialize anyway; at driver bench scale the local path removes
    * ~8 rounds × per-round job overhead that dominated this operator's
    * wall clock.
    *
    * The local path only fires for INTEGRAL id columns (byte/short/
    * int/long): both paths then accept identical schemas and return
    * ids of the input type — a non-integral id (string keys, say)
    * takes the distributed loop, which is type-generic, instead of
    * silently null-casting. */
  private[ops] def clustersFromEdges(edgesIn: DataFrame,
                                     maxLocalEdges: Long = defaultMaxLocalEdges): DataFrame = {
    val edges = edgesIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val m = edges.count()
    val out =
      if (m <= maxLocalEdges && Seq("doc_a", "doc_b").forall(c => isIntegral(edges, c)))
        clustersLocal(edges)
      else clustersFromEdgesCounted(edges)._1
    edges.unpersist()
    out
  }

  private def isIntegral(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Local-path gate derived from the actual driver budget, not a
    * guess: the peak transient is ~200 bytes/edge — specialized
    * (Long, Long) tuples (~32 B each; the primitive-encoder collect
    * below avoids ~100+ B boxed Rows entirely), LongMap open-addressing
    * arrays (~32 B/node × ≤ 2 nodes/edge incl. load-factor slack) and
    * the (id, root) result tuples — so the gate budgets 1/4 of the
    * driver heap at that rate, capped at 2²² edges. A 1 GiB driver
    * gates at ~1.3 M edges instead of blindly accepting 4.2 M. */
  private[ops] def defaultMaxLocalEdges: Long =
    math.min(1L << 22, Runtime.getRuntime.maxMemory() / 4 / 200)

  /** Driver-side union-find with path halving; labels = component-min
    * node id (identical semantics to the distributed loop and to the
    * recursive-CTE oracle). Only called for integral id columns (see
    * the gate), so the widening cast below can never produce NULLs;
    * outputs are cast back so the result schema matches the
    * distributed path's for the same input. */
  private def clustersLocal(edges: DataFrame): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val idType = edges.schema("doc_a").dataType
    // primitive-encoder collect: (Long, Long) deserializes to the
    // specialized Tuple2 (~32 B/edge), not boxed Rows
    val es = edges.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    for ((a, b) <- es) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN root so the final root IS the component min
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keys.toArray.sorted.map(id => (id, find(id)))
    rows.toSeq.toDF("doc_id", "cluster_id")
      .select(col("doc_id").cast(idType).as("doc_id"),
        col("cluster_id").cast(idType).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Same, also returning the number of rounds to fixpoint (exposed so
    * specs can pin the O(log diameter) convergence). */
  private[ops] def clustersFromEdgesCounted(edgesIn: DataFrame): (DataFrame, Int) = {
    // symmetrize ONCE so each round needs a single join instead of two
    // directional joins + a union (iteration cost is dominated by
    // per-round job count on these small frames)
    val edges = edgesIn
      .union(edgesIn.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels0 = edges.select(col("doc_a").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels: DataFrame = labels0
    // the most recent round's checkpoint — released once superseded
    var cached: Option[DataFrame] = None
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val prop = edges.join(labels, col("doc_a") === col("id"))
        .select(col("doc_b").as("id"), col("label").as("cand"))
        .groupBy(col("id")).agg(min(col("cand")).as("cand"))
      // persist: `hopped` appears on BOTH sides of the pointer-jump
      // self-join below — uncached, each round would execute the
      // dominant edge-propagation join twice
      val hopped = labels.join(prop, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("cand"), col("label"))).as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // pointer jump: label(id) ← min(label(id), label(label(id))).
      // Invariant preserved: a label is always a node reachable from
      // id, so jumping through it stays within the component; reach
      // doubles per round. The `old` column carries the PRE-round
      // label so convergence is one aggregate over `next` itself — no
      // extra join, and the count action fully materializes the new
      // cache before the parent is dropped (a take(1)-style check
      // would leave it partially cached and later rounds would
      // recompute through the whole join lineage)
      // lineage chop: `hopped` appears twice in `next`, so carrying the
      // Catalyst plan forward would DOUBLE it per round (exponential
      // analysis/explain cost — measured OOM near round 7). An eager
      // localCheckpoint truncates it to a constant-size LogicalRDD
      // leaf that keeps rows in internal format AND preserves the
      // output partitioning into the next round's joins (the retired
      // RDD round-trip paid external-row conversion and re-exchange);
      // the convergence count then reads the checkpoint, not the
      // join lineage.
      val next = hopped.as("x").join(
          hopped.select(col("id").as("pid"), col("label").as("plabel")).as("p"),
          col("x.label") === col("p.pid"), "left")
        .select(col("x.id").as("id"), col("x.old").as("old"),
          least(col("x.label"), coalesce(col("p.plabel"), col("x.label"))).as("label"))
        .localCheckpoint(true)
      converged = next.filter(col("label") =!= col("old")).count() == 0
      hopped.unpersist() // next is materialized; the intermediate can go
      cached.foreach(
        org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpointed)
      cached = Some(next)
      labels = next.select(col("id"), col("label"))
    }
    edges.unpersist()
    labels0.unpersist(blocking = false) // superseded by round 1's checkpoint
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id")), rounds)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over distinct word 3-gram shingles: bit i is the
    * sign of the ±1 vote sum of each shingle-hash's bit i. (Shingles,
    * not raw tokens: with a small vocabulary every document contains
    * nearly every token, making token-level SimHash uninformative —
    * empirically 9k false near-pairs on the 500-doc testdata.)
    *
    * Shingle hashes come from [[graft.functions.M61TokenHashes]]
    * (Mersenne-61 polynomial fold + murmur fmix64) rather than
    * xxhash64: that family is reproducible in DuckDB with HUGEINT
    * modular arithmetic, which makes `dedup_simhash_pairs` a fully
    * hash-checked driver row (the xxhash64 votes were not
    * SQL-expressible, leaving it rows-only). The fmix64 avalanche
    * matters: a bare polynomial hash's prefix-delta linearity
    * correlates vote bits and inflated false near-pairs ~18× on the
    * small-vocabulary testdata. */
  def simhashes(s: SparkSession, dir: String): DataFrame =
    shingled(s, dir)
      // native codegen'd kernels — the HOF simhash formulations
      // measured 17 s (single-pass zip_with) / 463 s (per-bit folds)
      // at sf0.1 vs ~2 s for the generated loop; identical bit
      // semantics pinned in DedupSpec
      .select(col("doc_id"),
        graft.functions.textFunctions.simhash64(
          graft.functions.textFunctions.m61_token_hashes(col("shingles"))).as("simhash"))

  /** SimHash leg over a shared [[hashedShingles]] frame (multi-signal
    * composition): identical bit semantics, the votes fold over the
    * persisted hash arrays instead of re-shingling the corpus. */
  private def simhashesFromHashed(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"),
      graft.functions.textFunctions.simhash64(col("hs")).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    *
    * Candidate generation is Manku-style block keys: the 64-bit
    * simhash splits into 8 blocks of 8 bits, and candidates share BOTH
    * blocks of any of the C(8,2) = 28 block pairs (16-bit join keys).
    * A pair at hamming h dirties at most h blocks, so ≥ 2 blocks are
    * clean whenever h ≤ 6 — candidates are guaranteed complete for
    * maxHamming ≤ 6, and missed at 7-8 only when ≥ 7 distinct blocks
    * take a bit flip (the earlier 4×16-bit single-chunk scheme was
    * complete only to h ≤ 3 and measurably missed planted near-dups
    * at h = 4-6). Selectivity is unchanged — keys are still 16 bits,
    * so candidate volume is Σ bucket² ≈ 28·n²/2¹⁶ per corpus, the
    * same inverted-index shape as before with a 7× table constant. */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    hamming64Pairs(simhashes(s, dir), maxHamming)

  /** Generic hamming-≤k pair join over any (doc_id, simhash: long)
    * frame via the Manku block-pair candidate scheme above — shared by
    * text SimHash and the image aHash ([[Multimodal]]); complete to
    * hamming ≤ 6 by the 2-clean-blocks argument. */
  private[ops] def hamming64Pairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = sh.selectExpr("doc_id", "simhash",
      """explode(flatten(transform(sequence(0, 6), c1 ->
        |  transform(sequence(c1 + 1, 7), c2 ->
        |    struct(c1 * 8 + c2 AS tbl,
        |      (shiftright(simhash, c1 * 8) & 255) * 256 + (shiftright(simhash, c2 * 8) & 255) AS ch))
        |))) AS cc""".stripMargin)
      .select(col("doc_id"), col("simhash"), col("cc.tbl"), col("cc.ch"))
      // persist: the self-join would re-derive shingle+simhash lineage
      // for both sides; signatures are 28 small rows per doc
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunks.as("a").join(chunks.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.ch") === col("b.ch") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------- multi-signal

  /** Multi-signal near-dup clusters — the shape production dedup
    * actually runs: FOUR independent candidate generators (exact
    * n-gram Jaccard, SimHash Hamming, semantic embedding similarity
    * over the deterministic cluster assignment, and CDC chunk
    * coverage) contribute pair evidence, the union feeds one
    * connected-components pass, and a downstream keep policy acts per
    * cluster. Any single signal misses a class of duplicates (token
    * overlap: paraphrases; simhash: heavy edits; embeddings:
    * verbatim-but-OOV; all three: insertion-SHIFTED near-copies,
    * which CDC's re-synchronizing boundaries catch); the union is
    * what real curation merges before collapsing. Embeddings here
    * are document embeddings — vec_id ≡ doc_id on the driver tables.
    * Each generator is the already-audited sub-linear plan; the union
    * is pair-graph-sized, ≪ corpus. */
  def multiSignalClusters(s: SparkSession, dir: String): DataFrame = {
    // ONE shingle+hash pass feeds both the jaccard and simhash legs
    // (they share the m61 shingle-hash arrays; r13 optimization —
    // each leg used to re-run the scan→split→shingle→hash lineage).
    // The CDC leg deliberately keeps its OWN parquet scan: persisting
    // the raw (doc_id, text) corpus to share one scan across the
    // text-reading legs was A/B'd in r14 and measured reproducibly
    // WORSE (clusters 5.8 → 6.3/7.3, agreement 7.3 → 9.7/10.2 —
    // columnar-cache fill + decode of text blobs costs more than the
    // ~17 MB parquet re-scan it saves; at 100 TB the same holds
    // harder: caching the full corpus to save a second scan is §5
    // cache pressure, not a win). Numbers in OPTIMIZATION_r14.md.
    val hashed = hashedShingles(docs(s, dir))
    val j = jaccardPairsFromHashed(hashed).select(col("doc_a"), col("doc_b"))
    // maxHamming = 6, NOT 8: the 28-table 2-block candidate scheme is
    // complete only to h ≤ 6 (hamming64Pairs' contract); at 7-8 a pair
    // surfaces only when it happens to share two clean blocks, and a
    // "union of generators" whose simhash leg has incidental recall
    // would overstate the endgame's guarantee. The standalone
    // dedup_simhash_pairs row keeps 8 with that caveat documented.
    val sh = hamming64Pairs(simhashesFromHashed(hashed), maxHamming = 6)
      .select(col("doc_a"), col("doc_b"))
    val se = Similarity.semanticPairs(s, dir).select(col("doc_a"), col("doc_b"))
    // 4th family: CDC chunk coverage at a high-precision bar — the
    // shift-robust evidence (insertion-shifted near-copies) the other
    // three structurally dilute; threshold 0.8 because the endgame
    // union add-only merges clusters and each leg must stand alone
    val cd = cdcCoverPairs(s, dir, threshold = 0.8)
      .select(col("doc_a"), col("doc_b"))
    clustersFromEdges(j.union(sh).union(se).union(cd).distinct())
  }

  // ----------------------------------------------------- family agreement

  /** Pairwise agreement matrix of the near-dup candidate families —
    * the four multi-signal generator legs at the SAME parameters as
    * [[multiSignalClusters]], plus `exact_truth` (md5-equal text — the
    * only free labels a raw corpus carries) as a fifth pseudo-family.
    * One row per unordered family pair: each side's pair volume, the
    * intersection, and the Jaccard overlap of the two pair SETS.
    *
    * This is the dedup-QA harness a production pipeline re-runs after
    * every recipe change, answering two questions at once: the
    * `exact_truth` rows read as planted-copy recall/precision (n_both
    * / n_truth and n_both / n_family), and the leg-vs-leg rows read as
    * redundancy — two generators with overlap ≈ 1 are paying twice
    * for one signal, overlap ≈ 0 means each leg is earning its keep
    * (the empirical justification for a union-of-generators endgame).
    *
    * Scale posture: each leg is its own already-audited bounded
    * generator (inverted-index / banded / cell-pruned / chunk
    * postings — never all-pairs) and runs ONCE (persisted pair-set
    * frames, pair-graph-sized ≪ corpus); the matrix is 10 scalar
    * aggregates over semi-joins of those small frames. */
  def familyAgreement(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan feeds the md5 truth leg AND the jaccard/simhash
    // shingle hashes (r14 continuation, §2.3): the persisted frame
    // holds only DERIVED hashes — (doc_id, md5, m61 hash array), never
    // raw text (caching the text itself was the A/B-rejected
    // experiment; see the multiSignalClusters note). `hs` is null
    // exactly where shingledOn's size(t) >= 3 filter dropped the doc,
    // so the legs' universes are unchanged. The CDC leg keeps its own
    // scan (its chunk kernel reads text bytes, not tokens).
    val hx = docs(s, dir)
      .withColumn("t", split(col("text"), " "))
      .select(col("doc_id"), md5(col("text")).as("h"),
        when(size(col("t")) >= 3,
          graft.functions.textFunctions.m61_token_hashes(
            graft.functions.textFunctions.word_ngrams(col("t"), 3))).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact-truth pairs: ONE shuffle of (h, doc_id) groups each md5
    // class into a list for [[PairGen.pairs]]. Null md5 (null text) is
    // excluded, matching a self-join's null-never-equals semantics; a
    // class of k identical docs yields C(k,2) a<b pairs (doc ids are
    // unique, lists sort ascending). No hub split: md5 classes hold at
    // most 2 docs at sf0.1, and the hub branch would run the class
    // aggregate twice.
    val truth = PairGen.pairs(
      hx.filter(col("h").isNotNull)
        .groupBy(col("h")).agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) >= 2),
      col("ds"), splitHubs = false).select(col("x").as("doc_a"), col("y").as("doc_b"))
    val hashed = hx.filter(col("hs").isNotNull).select(col("doc_id"), col("hs"))
    // alphabetical so the (i < j) enumeration yields fam_a < fam_b
    familyAgreementOn(Seq(
      "cdc_coverage" -> cdcCoverPairs(s, dir, threshold = 0.8),
      "exact_truth" -> truth,
      "jaccard" -> jaccardPairsFromHashed(hashed),
      "semantic" -> Similarity.semanticPairs(s, dir),
      "simhash" -> hamming64Pairs(simhashesFromHashed(hashed), maxHamming = 6)))
  }

  /** Generic variant: named (doc_a, doc_b, …) pair frames (extra
    * columns ignored; frames must be a < b oriented and pair-unique,
    * like every generator here — intersection counting relies on it).
    *
    * One tagged union computes the WHOLE matrix in two aggregates
    * (per-family counts + a pair-keyed self-join for every
    * intersection at once) instead of C(n,2) separate jobs — per-leg
    * generation still dominates, but the matrix itself stops paying
    * ~15 job launches over cached frames. Zero-intersection family
    * pairs are restored from the counts cross product. */
  def familyAgreementOn(families: Seq[(String, DataFrame)]): DataFrame = {
    val tagged = families.map { case (name, df) =>
      df.select(lit(name).as("fam"), col("doc_a"), col("doc_b"))
    }.reduce(_ unionAll _)
      // cache lifetime: boundedSharedCounts' contract — read by the
      // count pass and both self-join sides; serial drivers
      // clearCache between queries
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = tagged.groupBy(col("fam")).agg(count(lit(1)).as("n"))
    // families with ZERO pairs vanish from `tagged` — restore them so
    // the matrix shape never depends on the data
    val allFams = {
      import tagged.sparkSession.implicits._
      families.map(_._1).toDF("fam")
    }
    val full = allFams.join(counts, Seq("fam"), "left")
      .select(col("fam"), coalesce(col("n"), lit(0L)).as("n"))
    val inter = tagged.as("a")
      .join(tagged.as("b"),
        col("a.doc_a") === col("b.doc_a") && col("a.doc_b") === col("b.doc_b") &&
          col("a.fam") < col("b.fam"))
      .groupBy(col("a.fam").as("fam_a"), col("b.fam").as("fam_b"))
      .agg(count(lit(1)).as("n_both"))
    full.as("x").join(full.as("y"), col("x.fam") < col("y.fam"))
      .select(col("x.fam").as("fam_a"), col("y.fam").as("fam_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .join(broadcast(inter), Seq("fam_a", "fam_b"), "left")
      .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
      .withColumn("overlap_jaccard",
        when(col("n_a") + col("n_b") - col("n_both") > 0,
          round(col("n_both").cast("double") /
            (col("n_a") + col("n_b") - col("n_both")), 4))
          .otherwise(lit(0.0)))
      .select(col("fam_a"), col("fam_b"), col("n_a"), col("n_b"),
        col("n_both"), col("overlap_jaccard"))
      .orderBy(col("fam_a"), col("fam_b"))
  }

  // -------------------------------------------------------- containment

  /** ASYMMETRIC containment near-dup pairs: C(A→B) = |A∩B| / |A| —
    * the measure that catches a short document CONTAINED in a long
    * one (quoted excerpts, partial copies), which symmetric Jaccard
    * structurally misses (the long side inflates the union: a 30-gram
    * doc fully inside a 300-gram doc has C = 1.0 but J ≈ 0.1). Same
    * bounded inverted-index posting join as [[jaccardPairs]] — the
    * only new arithmetic is dividing the shared count by EACH side's
    * size instead of the union. Keeps pairs where either direction's
    * containment ≥ `threshold`. */
  def containmentPairs(s: SparkSession, dir: String,
                       threshold: Double = 0.9, maxBucket: Int = 1000): DataFrame =
    containmentPairsOn(docs(s, dir), threshold, maxBucket)

  /** Generic variant over any (doc_id, text) frame. */
  def containmentPairsOn(docsDf: DataFrame, threshold: Double = 0.9,
                         maxBucket: Int = 1000): DataFrame =
    boundedSharedCounts(docsDf, maxBucket)
      .withColumn("cont_a",
        round(col("n_shared").cast("double") / col("sz_a"), 6))
      .withColumn("cont_b",
        round(col("n_shared").cast("double") / col("sz_b"), 6))
      .filter(col("cont_a") >= threshold || col("cont_b") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"))
      .orderBy(col("doc_a"), col("doc_b"))

  // --------------------------------------------------------- fuzzy dedup

  /** Edit-distance near-dup pairs: inverted-index candidates at a LOW
    * Jaccard bar (recall stage), refined by BOUNDED Levenshtein
    * distance on the full text (precision stage) — the fuzzy-matching
    * flavor of the near-dup family, for corpora where token overlap
    * alone over/under-matches (OCR noise, small in-place edits).
    *
    * The refinement uses the threshold form of `levenshtein`, which
    * abandons a pair once its distance provably exceeds `maxDist` —
    * O(maxDist·len) per pair instead of O(len²), the difference
    * between feasible and not on candidate volumes at scale. Never
    * run edit distance all-pairs: the candidate stage exists so the
    * quadratic never touches the corpus, only Σ bucket² candidates. */
  def fuzzyPairs(s: SparkSession, dir: String,
                 candThreshold: Double = 0.3, maxDist: Int = 7,
                 maxBucket: Int = 1000): DataFrame =
    fuzzyPairsOn(docs(s, dir), candThreshold, maxDist, maxBucket)

  /** Generic variant over any (doc_id, text) frame. */
  def fuzzyPairsOn(df: DataFrame, candThreshold: Double = 0.3,
                   maxDist: Int = 7, maxBucket: Int = 1000): DataFrame = {
    val cand = jaccardPairsOn(df, candThreshold, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val texts = df.select(col("doc_id"), col("text"))
    cand
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("edit_dist") >= 0) // threshold form returns -1 past maxDist
      .select(col("doc_a"), col("doc_b"), col("edit_dist").cast("long").as("edit_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // -------------------------------------------------------- ingest dedup

  /** Incremental-ingest dedup: classify an INCOMING batch against the
    * EXISTING corpus — the admission decision a continuously-growing
    * corpus runs on every new crawl drop. A new document is
    * `exact_dup` if its content hash already exists, `near_dup` if it
    * forms a Jaccard ≥ `threshold` pair with an existing document
    * (cross-corpus pairs only — within-batch duplicates are the
    * separate in-corpus operators' job), `admit` otherwise. Batch
    * membership here is the id split at `splitId` (the driver tables
    * have no ingest timestamp); production keys the same plan on a
    * batch column.
    *
    * Scale posture: the exact check is a hash semi-join (16-byte keys);
    * the near check reuses [[jaccardPairsOn]]'s bounded inverted-index
    * join over the union and keeps only cross-side pairs — the
    * existing side's postings are the "index", re-derived here. The
    * production ingest loop persists it instead: see
    * [[writePostingIndex]]/[[ingestDedupIndexed]], which produce
    * identical verdicts from a gb-partitioned parquet index. */
  def ingestDedup(s: SparkSession, dir: String, splitId: Long = 400L,
                  threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    ingestDedupOn(docs(s, dir), splitId, threshold, maxBucket)

  /** Generic variant over any (doc_id, text) frame. */
  def ingestDedupOn(all: DataFrame, splitId: Long,
                    threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val existing = all.filter(col("doc_id") < splitId)
    val incoming = all.filter(col("doc_id") >= splitId)
    // no broadcast hint: the EXISTING corpus is the unbounded side (it
    // grows forever in the modeled deployment) — Catalyst broadcasts
    // it while it fits and falls back to a shuffled semi-join on the
    // 16-byte hash keys beyond that, which is the correct 100 TB shape
    val exHash = existing.select(md5(col("text")).as("content_hash")).distinct()
    val exactDup = incoming
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .join(exHash, Seq("content_hash"), "left_semi")
      .select(col("doc_id"), lit(true).as("e"))
    // ids are split-ordered, so a cross pair is exactly doc_a existing,
    // doc_b incoming (pairs always have doc_a < doc_b)
    val nearDup = jaccardPairsOn(all, threshold, maxBucket)
      .filter(col("doc_a") < splitId && col("doc_b") >= splitId)
      .select(col("doc_b").as("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("n"))
    incoming.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_dup"),
        coalesce(col("n"), lit(false)).as("near_dup"),
        (coalesce(col("e"), lit(false)) === false &&
          coalesce(col("n"), lit(false)) === false).as("admit"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------ persisted ingest index

  /** Hadoop FileSystem resolved from the path — the posting index is a
    * CROSS-PROCESS contract (meta, delta layout, byte totals) and may
    * live on a non-local filesystem in production, where a
    * `java.io.File` probe would silently read the driver's local disk
    * instead (r13 ADVICE item: a reader that misses `meta/nbuckets`
    * falls back to 32 buckets and mis-prunes). Local paths resolve to
    * the local FS, so behavior on this box is unchanged. */
  private def fsFor(path: String): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  private def fsExists(path: String): Boolean = {
    val (fs, p) = fsFor(path); fs.exists(p)
  }

  private def fsDeleteDir(path: String): Unit = {
    val (fs, p) = fsFor(path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Child directories of `path` (empty when absent). */
  private def fsListDirs(path: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val (fs, p) = fsFor(path)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory)
  }

  /** Materialize the EXISTING corpus's dedup index once, so every later
    * ingest batch checks against parquet instead of re-shingling the
    * (ever-growing) corpus — the "persisted once in a production ingest
    * loop" posture [[ingestDedupOn]] documents, implemented. Layout
    * (mirrors [[Ivf.writeIndex]]'s partitioned-for-pruning shape):
    *
    *  - `exact/`    distinct md5 content hashes,
    *  - `postings/` (doc_id, g) UNCAPPED 8-byte shingle hashes,
    *    partitioned by `gb = pmod(g, nBuckets)` so a query batch reads
    *    only the buckets its own grams touch (PartitionFilters at the
    *    scan — pinned in PlanPinsSpec),
    *  - `dfreq/`    (g, df) per-gram document frequency, same
    *    partitioning (the union df-cap needs existing dfs without
    *    scanning postings),
    *  - `sizes/`    (doc_id, sz0) posting-set sizes under the
    *    EXISTING-ONLY df ≤ `maxBucket` cap; queries correct these for
    *    grams the incoming batch pushes over the cap.
    *
    * Postings stay uncapped on disk because the df-cap is a property of
    * the UNION of corpus + batch: a gram under the cap today can go
    * over it after any batch, and the capped-universe size bookkeeping
    * (the [[boundedSharedCounts]] invariant) must follow. */
  def writePostingIndex(s: SparkSession, existing: DataFrame, path: String,
                        maxBucket: Int = 1000, nBuckets: Int = -1): Unit = {
    val ex = existing.select(col("doc_id"), col("text"))
    ex.select(md5(col("text")).as("content_hash")).distinct()
      .write.mode("overwrite").parquet(s"$path/exact")
    val posting0 = shingledOn(ex)
      .select(col("doc_id"),
        explode(graft.functions.textFunctions.m61_token_hashes(col("shingles"))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SCALE-ADAPTIVE bucket count (guide §2: derive partitioning from
    // input size, never a constant tuned for one scale): target
    // ~100k postings (~1.6 MB) per bucket so a small corpus writes a
    // handful of files instead of `tasks × 32` splinters, while a big
    // one keeps pruning granularity; production builds pass an
    // explicit count sized to their fleet. The CHOSEN count is
    // recorded in `meta/nbuckets` and every reader resolves it from
    // there — a reader guessing a different count would mis-prune.
    val b = if (nBuckets > 0) nBuckets
      else math.max(1L, math.min(1024L,
        (posting0.count() + 99999L) / 100000L)).toInt
    // meta/nbuckets through the Hadoop FS resolved from the path (not
    // java.nio against the driver's local disk): readers on any
    // filesystem resolve the same bucket count the writer chose
    locally {
      val (fs, metaP) = fsFor(s"$path/meta/nbuckets")
      val out = fs.create(metaP, true)
      try out.write(b.toString.getBytes("UTF-8")) finally out.close()
    }
    val posting = posting0.withColumn("gb", pmod(col("g"), lit(b)).cast("int"))
    try {
      // repartition by the partition column first: otherwise EVERY
      // write task opens a file in EVERY bucket dir (tasks × buckets
      // small files); clustered, each bucket gets one contiguous file
      // — fewer open files at write, fewer splits at pruned read
      posting.repartition(col("gb"))
        .write.mode("overwrite").partitionBy("gb").parquet(s"$path/postings")
      val dfreq = posting.groupBy(col("g"), col("gb")).agg(count(lit(1)).as("df"))
      dfreq.repartition(col("gb"))
        .write.mode("overwrite").partitionBy("gb").parquet(s"$path/dfreq")
      posting.join(
          s.read.parquet(s"$path/dfreq").filter(col("df") <= maxBucket).select(col("g")),
          Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("sz0"))
        .write.mode("overwrite").parquet(s"$path/sizes")
    } finally posting0.unpersist()
  }

  /** The bucket count an index was BUILT with: `meta/nbuckets` when
    * present, else 32 (every pre-meta index was written at the old
    * fixed default — resolving anything else would mis-prune). */
  private def readIndexBuckets(path: String): Int = {
    val (fs, p) = fsFor(s"$path/meta/nbuckets")
    if (fs.exists(p)) {
      val in = fs.open(p)
      try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toInt
      finally in.close()
    } else 32
  }

  private def resolveBuckets(path: String, nBuckets: Int): Int =
    if (nBuckets > 0) nBuckets else readIndexBuckets(path)

  /** Ingest-dedup a batch against a [[writePostingIndex]] index —
    * result identical to [[ingestDedupOn]] over (existing ∪ incoming)
    * restricted to cross-side near-pairs, without touching the
    * existing corpus' text. `maxBucket` must match the index build;
    * the bucket count resolves from the index's own `meta/nbuckets`
    * by default (an explicit `nBuckets` override must match the
    * build).
    *
    * Union df-cap reconstruction: df_union(g) = df_ex(g) + df_in(g).
    * Grams ABSENT from the batch keep their build-time hot status
    * (df_union = df_ex), so the stored `sz0` sizes are correct except
    * for grams the batch pushes over the cap ("newly hot" — all of
    * which appear in the batch, hence in the touched buckets); their
    * per-doc counts are subtracted. Shared counts join existing
    * postings to cap-surviving batch postings on g, so only cross
    * pairs are ever enumerated.
    *
    * If the index carries an un-compacted delta (batched appends —
    * see [[appendToPostingIndex]]), every document frequency is
    * reconstructed as df_compacted + df_delta and delta docs' sizes
    * are computed fresh from their own postings, so verdicts are
    * bit-identical to a fully-compacted index (DedupSpec pins the
    * equivalence; the dedup_ingest_epochs_batched driver row shares
    * the compacted loop's oracle verbatim).
    *
    * Scale posture: everything on the wire is 8-byte gram hashes or
    * (doc, count) rows; the index scans prune to the batch's gram
    * buckets plus the delta's (a small batch touches few — the
    * incremental-ingest shape); the collects are ≤ nBuckets ints for
    * the pruning literals. Persisted intermediates live until the
    * session drops them (serial driver-session assumption, as
    * elsewhere in this module). */
  def ingestDedupIndexed(s: SparkSession, path: String, incoming: DataFrame,
                         threshold: Double = 0.5, maxBucket: Int = 1000,
                         nBuckets: Int = -1,
                         excludeBatchFrom: Option[Long] = None): DataFrame =
    ingestDedupIndexedImpl(s, path, incoming, threshold, maxBucket, nBuckets,
      excludeBatchFrom, captureState = false)._1

  /** The batch-derived frames a verdict computation already paid for —
    * reusable by the SAME batch's admission append so the append never
    * re-reads or re-shingles the batch text (r14 continuation, guide
    * §2.3 "don't compute things twice"): `inPost` = the batch's full
    * (doc_id, g, gb) posting set, `hashes` = (doc_id, content_hash).
    * Both persisted; the caller unpersists after its append. `buckets`
    * pins the bucket count the postings were keyed with — an append
    * against an index whose count changed mid-flight must fail loudly
    * rather than mis-bucket. */
  private[ops] final case class IngestBatchState(buckets: Int,
      inPost: DataFrame, hashes: DataFrame) {
    def release(): Unit = {
      inPost.unpersist(blocking = false)
      hashes.unpersist(blocking = false)
      ()
    }
  }

  /** [[ingestDedupIndexed]] that also returns the batch's reusable
    * posting/hash state — the ingest loops' verdict→append handoff. */
  private[ops] def ingestDedupIndexedStateful(
      s: SparkSession, path: String, incoming: DataFrame,
      threshold: Double = 0.5, maxBucket: Int = 1000,
      nBuckets: Int = -1,
      excludeBatchFrom: Option[Long] = None): (DataFrame, IngestBatchState) = {
    val (v, st) = ingestDedupIndexedImpl(s, path, incoming, threshold,
      maxBucket, nBuckets, excludeBatchFrom, captureState = true)
    (v, st.get)
  }

  private def ingestDedupIndexedImpl(s: SparkSession, path: String,
                         incoming: DataFrame,
                         threshold: Double, maxBucket: Int,
                         nBuckets: Int,
                         excludeBatchFrom: Option[Long],
                         captureState: Boolean): (DataFrame, Option[IngestBatchState]) = {
    val b = resolveBuckets(path, nBuckets)
    val inc = incoming.select(col("doc_id"), col("text"))
    val inPost = shingledOn(inc)
      .select(col("doc_id"),
        explode(graft.functions.textFunctions.m61_token_hashes(col("shingles"))).as("g"))
      .withColumn("gb", pmod(col("g"), lit(b)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBuckets = inPost.select(col("gb")).distinct().collect().map(_.getInt(0))
    val bLits = bBuckets.map(Integer.valueOf)

    // Un-compacted delta: admitted batches appended since the last
    // compaction ([[appendToPostingIndex]] with compact = false).
    // Bounded by protocol (≤ K batch sizes), read in full — its docs
    // ARE existing corpus, but the compacted dfreq/sizes don't know
    // them yet, so every df below is reconstructed as
    // df_compacted + df_delta (exact, not an approximation).
    //
    // Two delta layouts exist: the flat append (`delta/postings/gb=*`,
    // the serial batch loop) and the batchId-KEYED layout
    // (`delta/postings/batch=*/gb=*`, written overwrite-per-batch by
    // the streaming loop for at-least-once idempotence). With
    // `excludeBatchFrom = Some(b)` the keyed read drops batches ≥ b,
    // so a REPLAYED batch verdicts against exactly the state its first
    // run saw — never against its own partial writes.
    val deltaRootPath = s"$path/delta/postings"
    val hasDelta = fsExists(deltaRootPath)
    val deltaDirs = if (hasDelta) fsListDirs(deltaRootPath)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    val keyedDelta = deltaDirs.exists(_.getPath.getName.startsWith("batch="))
    // explicit schema, not inference: a drop that admits NOTHING still
    // writes the delta dir, with zero data files under it — inference
    // would throw UNABLE_TO_INFER_SCHEMA and poison every later query
    // against the index (gb/batch come back via partition discovery)
    val deltaPost = if (!hasDelta) null
    else {
      val base =
        if (keyedDelta)
          s.read.schema("doc_id BIGINT, g BIGINT, gb INT, batch BIGINT")
            .parquet(deltaRootPath)
            .filter(excludeBatchFrom.map(b => col("batch") < b).getOrElse(lit(true)))
            .select(col("doc_id"), col("g"), col("gb"))
        else
          s.read.schema("doc_id BIGINT, g BIGINT, gb INT")
            .parquet(deltaRootPath)
      base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // The delta tree is PARTITIONED BY gb (under batch=* in the keyed
    // layout), so the delta's bucket ids are FILESYSTEM METADATA — the
    // partition directory names — not data. Listing them replaces the
    // former scan→distinct→collect Spark job per verdict with a
    // namenode-sized listing (guide §1.2: no jobs for what metadata
    // already knows; the postingDeltaRatio precedent). A gb=* dir
    // exists iff its writer landed rows, so the listing matches the
    // scan exactly; a hypothetical stale-empty dir could only ADD a
    // pruning literal (scans an empty bucket — harmless), never drop
    // one. The keyed layout applies the same batch-exclusion rule the
    // read does.
    val dBuckets: Array[Int] =
      if (!hasDelta) Array.empty[Int]
      else {
        def gbOf(n: String): Option[Int] =
          if (n.startsWith("gb=")) Some(n.stripPrefix("gb=").toInt) else None
        if (keyedDelta)
          deltaDirs.filter(d => d.getPath.getName.startsWith("batch=") &&
              excludeBatchFrom.forall(b =>
                d.getPath.getName.stripPrefix("batch=").toLong < b))
            .flatMap(d => fsListDirs(d.getPath.toString))
            .flatMap(c => gbOf(c.getPath.getName)).distinct
        else deltaDirs.flatMap(d => gbOf(d.getPath.getName)).distinct
      }
    // flipped-gram corrections may involve delta-only buckets, so the
    // correction scans prune to batch ∪ delta buckets (still ≤ nBuckets
    // ints collected in total)
    val aLits = (bBuckets ++ dBuckets).distinct.map(Integer.valueOf)

    // pruned scans (no persist: re-reading a pruned parquet scan is
    // cheaper than caching it for two uses)
    def compactPostAt(lits: Array[Integer]) =
      s.read.parquet(s"$path/postings").filter(col("gb").isin(lits: _*))
        .select(col("doc_id"), col("g"))
    def allPostAt(lits: Array[Integer]) =
      if (!hasDelta) compactPostAt(lits)
      else compactPostAt(lits).unionByName(
        deltaPost.filter(col("gb").isin(lits: _*)).select(col("doc_id"), col("g")))
    def dfCompactAt(lits: Array[Integer]) =
      s.read.parquet(s"$path/dfreq").filter(col("gb").isin(lits: _*))
        .select(col("g"), col("df").as("df_c"))
    def dfDeltaAt(lits: Array[Integer]) =
      deltaPost.filter(col("gb").isin(lits: _*))
        .groupBy(col("g")).agg(count(lit(1)).as("df_d"))

    val dfIn = inPost.groupBy(col("g")).agg(count(lit(1)).as("df_in"))
    // true existing df for the batch's grams
    val dfEx =
      if (!hasDelta) dfCompactAt(bLits).select(col("g"), col("df_c").as("df_ex"))
      else dfCompactAt(bLits).join(dfDeltaAt(bLits), Seq("g"), "full")
        .select(col("g"),
          (coalesce(col("df_c"), lit(0L)) + coalesce(col("df_d"), lit(0L))).as("df_ex"))
    val dfU = dfIn.join(dfEx, Seq("g"), "left")
      .select(col("g"), coalesce(col("df_ex"), lit(0L)).as("df_ex"),
        (col("df_in") + coalesce(col("df_ex"), lit(0L))).as("df_u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val unionHot = dfU.filter(col("df_u") > maxBucket).select(col("g"))
    val inB = inPost.join(unionHot, Seq("g"), "left_anti")

    // Grams whose hot status FLIPS relative to the COMPACTED baseline:
    // df_c ≤ cap < df_c + df_d + df_in. With no delta this is exactly
    // the "newly hot" class (batch pushes a build-time-cold gram over
    // the cap); the delta generalization also catches grams the
    // un-compacted appends pushed over. A flip needs delta or batch
    // occurrences, so flipped grams live inside the pruned buckets.
    val flipped =
      if (!hasDelta)
        // compacted baseline == df_ex: the flip set is exactly the
        // newly-hot class already sitting in dfU (round-5 plan shape)
        dfU.filter(col("df_u") > maxBucket && col("df_ex") <= maxBucket)
          .select(col("g"))
      else dfCompactAt(aLits).join(dfDeltaAt(aLits), Seq("g"), "left")
        .join(dfIn, Seq("g"), "left")
        .filter(col("df_c") <= maxBucket &&
          col("df_c") + coalesce(col("df_d"), lit(0L)) +
            coalesce(col("df_in"), lit(0L)) > maxBucket)
        .select(col("g"))
    val shared = allPostAt(bLits).select(col("doc_id").as("doc_a"), col("g"))
      .join(inB.select(col("doc_id").as("doc_b"), col("g")), Seq("g"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_shared"))
    // stored sz0 is under the compacted-only cap; subtracting each
    // doc's flipped-gram count yields its size under the full UNION cap
    val corr = compactPostAt(aLits).select(col("doc_id").as("doc_a"), col("g"))
      .join(flipped, Seq("g"), "left_semi")
      .groupBy(col("doc_a")).agg(count(lit(1)).as("corr"))
    val szCompact = s.read.parquet(s"$path/sizes")
      .select(col("doc_id").as("doc_a"), col("sz0"))
      .join(corr, Seq("doc_a"), "left")
      .select(col("doc_a"), (col("sz0") - coalesce(col("corr"), lit(0L))).as("sz_a"))
    // delta docs have no sizes rows yet: size under the union cap,
    // computed fresh from their own (bounded) postings
    val szA = if (!hasDelta) szCompact else {
      val dLits = dBuckets.map(Integer.valueOf)
      val deltaUnder = deltaPost.groupBy(col("g")).agg(count(lit(1)).as("df_d"))
        .join(dfCompactAt(dLits), Seq("g"), "left")
        .join(dfIn, Seq("g"), "left")
        .filter(coalesce(col("df_c"), lit(0L)) + col("df_d") +
          coalesce(col("df_in"), lit(0L)) <= maxBucket)
        .select(col("g"))
      szCompact.unionByName(
        deltaPost.select(col("doc_id"), col("g"))
          .join(deltaUnder, Seq("g"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("sz_a"))
          .select(col("doc_id").as("doc_a"), col("sz_a")))
    }
    val szB = inB.groupBy(col("doc_id")).agg(count(lit(1)).as("sz_b"))
      .select(col("doc_id").as("doc_b"), col("sz_b"))
    val nearDup = shared.join(szA, "doc_a").join(szB, "doc_b")
      .withColumn("jac",
        col("n_shared").cast("double") / (col("sz_a") + col("sz_b") - col("n_shared")))
      .filter(col("jac") >= threshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("n"))
    // keyed appends park their exact hashes under exact_delta/batch=*
    // until compaction (same replay-exclusion rule as the postings)
    val exactRef = {
      val base = s.read.parquet(s"$path/exact").select(col("content_hash"))
      if (!fsExists(s"$path/exact_delta")) base
      else base.unionByName(
        s.read.schema("content_hash STRING, batch BIGINT")
          .parquet(s"$path/exact_delta")
          .filter(excludeBatchFrom.map(b => col("batch") < b).getOrElse(lit(true)))
          .select(col("content_hash")))
    }
    // when the caller wants the batch state back, the md5 frame is
    // persisted and shared between this verdict's exact check and the
    // later append (one md5 pass over the batch text, not two)
    val inHashes = {
      val h = inc.select(col("doc_id"), md5(col("text")).as("content_hash"))
      if (captureState)
        h.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else h
    }
    val exactDup = inHashes
      .join(exactRef, Seq("content_hash"), "left_semi")
      .select(col("doc_id"), lit(true).as("e"))
    val verdicts = inc.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(false)).as("exact_dup"),
        coalesce(col("n"), lit(false)).as("near_dup"),
        (coalesce(col("e"), lit(false)) === false &&
          coalesce(col("n"), lit(false)) === false).as("admit"))
      .orderBy(col("doc_id"))
    (verdicts,
      if (captureState) Some(IngestBatchState(b, inPost, inHashes)) else None)
  }

  /** Admit an ingested batch into the index: append exact hashes and
    * write the batch's postings into the DELTA area
    * (`delta/postings/`, gb-partitioned like the main set), then — if
    * `compact` — fold the delta into `postings/` and re-derive
    * dfreq/ and sizes/ ([[compactPostingIndex]]).
    *
    * With `compact = false` (the batched-append production mode) the
    * append touches only batch-sized data: K appends cost K
    * batch-sized writes instead of K full-corpus recomputations, and
    * [[ingestDedupIndexed]] carries the un-compacted delta in its
    * query-side df-cap reconstruction — verdicts are IDENTICAL either
    * way (pinned in DedupSpec and by the dedup_ingest_epochs_batched
    * driver row sharing the compacted loop's oracle). Run
    * [[compactPostingIndex]] every K batches to fold the delta in. */
  def appendToPostingIndex(s: SparkSession, admitted: DataFrame, path: String,
                           maxBucket: Int = 1000, nBuckets: Int = -1,
                           compact: Boolean = true,
                           batchKey: Option[Long] = None): Unit = {
    val b = resolveBuckets(path, nBuckets)
    val ad = admitted.select(col("doc_id"), col("text"))
    val exact = ad.select(md5(col("text")).as("content_hash")).distinct()
    val posting = shingledOn(ad)
      .select(col("doc_id"),
        explode(graft.functions.textFunctions.m61_token_hashes(col("shingles"))).as("g"))
      .withColumn("gb", pmod(col("g"), lit(b)).cast("int"))
    appendFrames(s, path, exact, posting, maxBucket, compact, batchKey)
  }

  /** Admit a verdicted batch into the index FROM the verdict's own
    * [[IngestBatchState]] — the ingest loops' handoff (r14
    * continuation, guide §2.3): the append restricts the batch's
    * ALREADY-COMPUTED posting set and md5 hashes to the admitted
    * doc_ids by semi-join instead of re-reading and re-shingling the
    * admitted docs' text (the text-based [[appendToPostingIndex]] paid
    * a second full batch scan + shingle + hash pass per epoch; at
    * production batch sizes that is a whole extra corpus-batch pass).
    * Posting restriction ≡ shingling the admitted subset because
    * shingling is per-row; DedupSpec pins the written index
    * bit-identical to the text-based append's. */
  private[ops] def appendAdmittedFromState(s: SparkSession,
      verdicts: DataFrame, state: IngestBatchState, path: String,
      maxBucket: Int = 1000, compact: Boolean = true,
      batchKey: Option[Long] = None): Unit = {
    require(resolveBuckets(path, -1) == state.buckets,
      s"index bucket count changed under the batch (state ${state.buckets})")
    val admitIds = verdicts.filter(col("admit")).select(col("doc_id"))
    val exact = state.hashes.join(broadcast(admitIds), Seq("doc_id"), "left_semi")
      .select(col("content_hash")).distinct()
    val posting = state.inPost.join(broadcast(admitIds), Seq("doc_id"), "left_semi")
    appendFrames(s, path, exact, posting, maxBucket, compact, batchKey)
  }

  /** The shared append tail: land (content_hash) and (doc_id, g, gb)
    * frames for one admitted batch into the exact/delta areas. */
  private def appendFrames(s: SparkSession, path: String,
      exact: DataFrame, postingUnclustered: DataFrame, maxBucket: Int,
      compact: Boolean, batchKey: Option[Long]): Unit = {
    val posting = postingUnclustered.repartition(col("gb"))
    // the flat (gb=* top-level) and batch-keyed (batch=*/gb=*) delta
    // layouts cannot coexist under one index: partition discovery over
    // the mixed tree either fails or silently misreads rows under the
    // wrong schema, so reject the mix up front
    val deltaChildren = fsListDirs(s"$path/delta/postings")
    val hasKeyed = deltaChildren.exists(_.getPath.getName.startsWith("batch="))
    val hasFlat = deltaChildren.exists(_.getPath.getName.startsWith("gb="))
    batchKey match {
      // batchId-keyed OVERWRITE (the streaming production mode): a
      // replayed batch rewrites exactly its own partition instead of
      // double-appending — idempotent under at-least-once delivery
      case Some(bid) =>
        require(!hasFlat,
          s"$path/delta/postings already holds a FLAT (batchKey=None) delta; " +
            "compact it before switching to batchId-keyed appends")
        exact.write.mode("overwrite").parquet(s"$path/exact_delta/batch=$bid")
        posting.write.mode("overwrite").partitionBy("gb")
          .parquet(s"$path/delta/postings/batch=$bid")
      case None =>
        require(!hasKeyed,
          s"$path/delta/postings already holds a batchId-KEYED delta; " +
            "compact it before switching to flat appends")
        exact.write.mode("append").parquet(s"$path/exact")
        posting.write.mode("append").partitionBy("gb")
          .parquet(s"$path/delta/postings")
    }
    if (compact) compactPostingIndex(s, path, maxBucket)
  }

  /** Fold the delta postings into the main set and re-derive dfreq/
    * and sizes/ from the full universe, so the stored baseline is
    * again consistent (the delta dir disappears; queries go back to
    * the fast no-delta path). The compaction rewrites the two
    * aggregate tables — gram- and doc-sized, not posting-sized — plus
    * one batch-sized move of the delta files; amortized over K
    * appends this is the production cost model the round-5 per-append
    * recomputation lacked. */
  def compactPostingIndex(s: SparkSession, path: String,
                          maxBucket: Int = 1000): Unit = {
    val deltaDirPath = s"$path/delta/postings"
    if (fsExists(deltaDirPath)) {
      val keyed = fsListDirs(deltaDirPath)
        .exists(_.getPath.getName.startsWith("batch="))
      val schema = if (keyed) "doc_id BIGINT, g BIGINT, gb INT, batch BIGINT"
        else "doc_id BIGINT, g BIGINT, gb INT"
      s.read.schema(schema).parquet(deltaDirPath)
        .select(col("doc_id"), col("g"), col("gb"))
        .repartition(col("gb"))
        .write.mode("append").partitionBy("gb").parquet(s"$path/postings")
      fsDeleteDir(s"$path/delta")
    }
    val exactDeltaPath = s"$path/exact_delta"
    if (fsExists(exactDeltaPath)) {
      s.read.schema("content_hash STRING, batch BIGINT")
        .parquet(exactDeltaPath)
        .select(col("content_hash")).distinct()
        .write.mode("append").parquet(s"$path/exact")
      fsDeleteDir(exactDeltaPath)
    }
    val posting = s.read.parquet(s"$path/postings")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dfreq = posting.groupBy(col("g"), col("gb")).agg(count(lit(1)).as("df"))
      dfreq.repartition(col("gb"))
        .write.mode("overwrite").partitionBy("gb").parquet(s"$path/dfreq")
      posting.join(
          s.read.parquet(s"$path/dfreq").filter(col("df") <= maxBucket).select(col("g")),
          Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("sz0"))
        .write.mode("overwrite").parquet(s"$path/sizes")
    } finally posting.unpersist()
  }

  /** Monotonic per-invocation suffix for scratch paths (same
    * concurrent-run collision rationale as [[Ivf.ivfIndexedQuery]]). */
  private val ingestScratchSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Driver row: build the posting index from the existing split,
    * answer the incoming split through it — must equal
    * [[ingestDedup]]'s verdicts row for row (same oracle SQL). */
  def ingestDedupIndexedQuery(s: SparkSession, dir: String,
                              splitId: Long = 400L): DataFrame = {
    val all = docs(s, dir)
    val path = new java.io.File(
      s"target/scratch/ingest_index_${s.sparkContext.applicationId}_${ingestScratchSeq.incrementAndGet()}"
    ).getAbsolutePath
    writePostingIndex(s, all.filter(col("doc_id") < splitId), path)
    ingestDedupIndexed(s, path, all.filter(col("doc_id") >= splitId))
  }

  /** Driver row: the COMPLETE production ingest loop over two epochs —
    * build the index from docs < 400, verdict epoch 1 (400-449)
    * against it, admit epoch 1's survivors into the index
    * ([[appendToPostingIndex]]), verdict epoch 2 (450-499) against the
    * GROWN index. Epoch 2's near/exact checks therefore see admitted
    * epoch-1 docs as corpus — the semantics that distinguish a loop
    * from two independent batches (and what the oracle mirrors with a
    * second posting universe of docs<400 ∪ admitted₁ ∪ epoch₂).
    *
    * Epoch-1 verdicts are collected before the index mutates under
    * their lazy plan — bounded (one row per batch doc; a production
    * loop persists verdicts to a table between epochs anyway). */
  def ingestEpochsQuery(s: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(
      s"target/scratch/ingest_epochs_${s.sparkContext.applicationId}_${ingestScratchSeq.incrementAndGet()}"
    ).getAbsolutePath
    ingestEpochsOn(s, docs(s, dir), path, split1 = 400L, split2 = 450L)
  }

  /** Driver row: the SAME two-epoch loop in batched-append mode —
    * epoch 1's admits land in the delta area with NO compaction, so
    * epoch 2 is verdicted against compacted-index + delta via the
    * query-side df reconstruction. Shares [[ingestEpochsQuery]]'s
    * oracle verbatim: batching appends must be invisible in the
    * output. */
  def ingestEpochsBatchedQuery(s: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(
      s"target/scratch/ingest_epochs_b_${s.sparkContext.applicationId}_${ingestScratchSeq.incrementAndGet()}"
    ).getAbsolutePath
    ingestEpochsOn(s, docs(s, dir), path, split1 = 400L, split2 = 450L,
      compactPerAppend = false)
  }

  /** Delta-to-base size ratio of a [[writePostingIndex]] index, from
    * FILESYSTEM METADATA only (recursive byte totals of the two
    * posting trees — never a scan): the signal the auto-compaction
    * policy gates on. Bytes, not rows, deliberately — at production
    * index sizes a row count is itself a job over the base postings,
    * while the byte totals come free from the namenode listing, and
    * the delta-aware query path's measured ~3× verdict overhead grows
    * with delta VOLUME, which bytes track directly. Returns +∞ for an
    * empty base (any delta then deserves folding in). */
  def postingDeltaRatio(path: String): Double = {
    def bytes(p: String): Long = {
      val (fs, hp) = fsFor(p)
      if (!fs.exists(hp)) 0L else fs.getContentSummary(hp).getLength
    }
    val base = bytes(s"$path/postings")
    val delta = bytes(s"$path/delta/postings")
    if (delta == 0L) 0.0
    else if (base <= 0L) Double.PositiveInfinity
    else delta.toDouble / base
  }

  /** The encoded compaction CADENCE: fold the delta into the base when
    * its byte ratio exceeds `ratio` ([[postingDeltaRatio]]). The
    * delta-aware query path is exact but carries a measured ~3×
    * constant verdict overhead at any scale (PLAN_NOTES' two-decade
    * probe), so the policy trades one gram/doc-sized table rewrite
    * against that multiplier once the delta stops being small —
    * callers no longer pick the moment by hand. Returns whether a
    * compaction ran. */
  def maybeCompactPostingIndex(s: SparkSession, path: String,
                               maxBucket: Int = 1000,
                               ratio: Double = 0.1): Boolean = {
    val due = postingDeltaRatio(path) > ratio
    if (due) compactPostingIndex(s, path, maxBucket)
    due
  }

  /** The docs a verdict frame admitted, selected by SEMI-JOIN against
    * the verdict rows — never an `isin` literal list: at a production
    * batch size an In-expression of N doc ids is plan bloat built on
    * the driver, while the semi-join ships the same N ids as a
    * (broadcastable) relation. Verdicts are already bounded (one row
    * per batch doc) wherever this is called. */
  private[ops] def admittedBatch(all: DataFrame, verdicts: DataFrame): DataFrame =
    all.join(verdicts.filter(col("admit")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Generic epoch loop over any (doc_id, text) frame: existing =
    * ids < split1, epoch 1 = [split1, split2), epoch 2 = ≥ split2.
    * `compactPerAppend = false` exercises the batched-append mode:
    * epoch 1's admits stay in the delta area and epoch 2's verdicts
    * go through the delta-aware reconstruction. */
  def ingestEpochsOn(s: SparkSession, all: DataFrame, path: String,
                     split1: Long, split2: Long,
                     threshold: Double = 0.5, maxBucket: Int = 1000,
                     compactPerAppend: Boolean = true): DataFrame =
    ingestEpochsLoopOn(s, all, path, Seq(split1, split2), threshold,
      maxBucket, compactPerAppend, autoCompactRatio = None)

  /** N-epoch generalization of the loop: `bounds` = epoch boundaries
    * (existing corpus < bounds(0); epoch i = [bounds(i-1), bounds(i)),
    * the last unbounded above). Each epoch verdicts against the index
    * as grown by every earlier epoch's admits; appends run in
    * `compactPerAppend` mode, and with `autoCompactRatio = Some(r)`
    * the ENCODED cadence policy ([[maybeCompactPostingIndex]]) runs
    * after every append — the delta folds in exactly when its byte
    * ratio crosses r, mid-sequence, with verdicts identical to any
    * other compaction schedule (the module's standing invariance,
    * pinned by the shared oracle). */
  def ingestEpochsLoopOn(s: SparkSession, all: DataFrame, path: String,
                         bounds: Seq[Long],
                         threshold: Double = 0.5, maxBucket: Int = 1000,
                         compactPerAppend: Boolean = true,
                         autoCompactRatio: Option[Double] = None): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted, s"ordered bounds: $bounds")
    writePostingIndex(s, all.filter(col("doc_id") < bounds.head), path, maxBucket)
    val n = bounds.length
    val epochs = (1 to n).map { i =>
      val lo = bounds(i - 1)
      val batch = all.filter(col("doc_id") >= lo &&
        bounds.lift(i).map(col("doc_id") < _).getOrElse(lit(true)))
      // non-final epochs verdict through the STATEFUL path so the
      // append below reuses the verdict's own posting/hash frames
      // instead of re-scanning + re-shingling the admitted docs' text
      // (one batch pass per epoch, not two)
      val (v, st) =
        if (i < n) {
          val (vv, ss) = ingestDedupIndexedStateful(s, path, batch,
            threshold, maxBucket)
          (vv, Some(ss))
        } else (ingestDedupIndexed(s, path, batch, threshold, maxBucket), None)
      // bounded collect (one row per batch doc): the verdicts must be
      // pinned before the append below mutates the index under their
      // lazy plan — a production loop lands them in a table anyway
      val vdf = s.createDataFrame(
        java.util.Arrays.asList(v.collect(): _*), v.schema)
      st.foreach { state =>
        appendAdmittedFromState(s, vdf, state, path, maxBucket,
          compact = compactPerAppend)
        state.release()
        autoCompactRatio.foreach(maybeCompactPostingIndex(s, path, maxBucket, _))
      }
      vdf.withColumn("epoch", lit(i.toLong))
    }
    epochs.reduce(_ unionByName _)
      .select(col("doc_id"), col("epoch"),
        col("exact_dup"), col("near_dup"), col("admit"))
      .orderBy(col("doc_id"))
  }

  /** Driver row: a FOUR-epoch batched-append loop where the encoded
    * auto-compaction policy fires mid-sequence — appends land in the
    * delta area (compact = false) and [[maybeCompactPostingIndex]]
    * decides after each one. Measured byte ratios (at
    * sf0.001/sf0.01/sf0.1, re-taken for the round-13 scale-adaptive
    * bucket layout whose compact base file lowered every ratio; the
    * numbers are in PLAN_NOTES.md, and the scale-probe tool whose
    * `--auto-compact` mode took them can be recovered from commit
    * 6ed6a13): one ~25-doc append over the 400-doc base
    * reads ~0.066-0.075, two accumulate to ~0.13-0.15, three to
    * ~0.20-0.21 — so at ratio 0.1 the first append stays delta, the
    * second triggers the fold, the third starts a fresh delta that
    * survives the loop (the same cadence the pre-r13 layout hit at
    * 0.25; a threshold left at 0.25 would never fire here and every
    * later epoch would pay the delta-aware verdict path's ~3×
    * constant — measured 26 s vs 14 s on this row). Shares the
    * generated multi-epoch oracle with no notion of compaction at
    * all: WHEN the fold runs must be invisible in the verdicts. */
  def ingestEpochsAutoQuery(s: SparkSession, dir: String): DataFrame = {
    val path = new java.io.File(
      s"target/scratch/ingest_epochs_auto_${s.sparkContext.applicationId}_${ingestScratchSeq.incrementAndGet()}"
    ).getAbsolutePath
    ingestEpochsLoopOn(s, docs(s, dir), path, Seq(400L, 425L, 450L, 475L),
      compactPerAppend = false, autoCompactRatio = Some(0.1))
  }

  // ----------------------------------------------- streaming ingest loop

  /** Streaming near-dup admission: the [[ingestEpochsOn]] continuous-
    * intake loop run through the real micro-batch engine. Every
    * parquet file under the source dir is one crawl drop;
    * `maxFilesPerTrigger = 1` makes the file source deliver exactly
    * one drop per micro-batch in pinned-mtime order, and
    * `foreachBatch` — the engine's idiom for stream-static work whose
    * static side must RE-RESOLVE between batches (a plan-embedded
    * static relation pins its file listing at analysis time;
    * re-creating the index frames inside the batch function is what
    * lets each drop see the index the previous drop grew) — runs the
    * persisted-index admission check ([[ingestDedupIndexed]]) and
    * appends the drop's admitted survivors to the delta area
    * ([[appendToPostingIndex]], compact = false: the batched-append
    * production mode; a compaction runs every K drops).
    *
    * Inter-drop state lives in the DURABLE index + checkpoint, not in
    * executor memory — the loop survives restart and its state size
    * is disk-bounded, the posture streaming exact-dedup alone
    * ([[exactDupGroupsStreaming]]) cannot give near-dup. Verdicts and
    * index deltas are both written KEYED BY `batchId` with
    * overwrite-per-batch, and every verdict computation excludes its
    * own and later batches' deltas (`excludeBatchFrom`) — a replayed
    * batch therefore recomputes identical verdicts and rewrites
    * exactly its own partitions: idempotent under the engine's
    * at-least-once batch delivery (DedupSpec replays a batch body and
    * pins both tables unchanged). No driver state anywhere in the
    * loop — the verdicts table on disk IS the output. */
  def ingestDedupStreaming(s: SparkSession, dir: String,
                           split1: Long = 400L, split2: Long = 450L,
                           threshold: Double = 0.5,
                           maxBucket: Int = 1000): DataFrame = {
    val scratch = new java.io.File(
      s"target/scratch/ingest_stream_${s.sparkContext.applicationId}_${ingestScratchSeq.incrementAndGet()}"
    ).getAbsolutePath
    ingestDedupStreamingOn(s, docs(s, dir), scratch, split1, split2,
      threshold, maxBucket)
  }

  /** Generic variant: builds the index from `all` below `split1`, then
    * replays [split1, split2) and [split2, ∞) as two mtime-ordered
    * crawl drops through the micro-batch loop. Scratch (index, drops,
    * checkpoint) is reclaimed after the bounded result materializes. */
  def ingestDedupStreamingOn(s: SparkSession, all: DataFrame, scratch: String,
                             split1: Long, split2: Long,
                             threshold: Double = 0.5,
                             maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
    val idx = s"$scratch/index"
    val srcDir = s"$scratch/drops"
    try {
      writePostingIndex(s, all.filter(col("doc_id") < split1), idx)
      writeDropSource(s, all, srcDir,
        Seq((split1, split2), (split2, Long.MaxValue)))
      val stream = s.readStream
        .schema(StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("epoch", LongType),
        StructField("exact_dup", BooleanType),
        StructField("near_dup", BooleanType),
        StructField("admit", BooleanType)))
      val verdictsDir = s"$scratch/verdicts"
      val q = stream.writeStream
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (drop: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          val dropDf = drop.select(col("doc_id"), col("text"))
          // verdict against compacted index + PRIOR batches' deltas
          // only: a replayed batch must not see its own earlier
          // (possibly partial) writes
          val (verdicts, state) = ingestDedupIndexedStateful(s, idx, dropDf,
            threshold, maxBucket, excludeBatchFrom = Some(batchId))
          verdicts
            .withColumn("epoch", lit(batchId + 1L))
            .select(col("doc_id"), col("epoch"), col("exact_dup"),
              col("near_dup"), col("admit"))
            .write.mode("overwrite").parquet(s"$verdictsDir/batch=$batchId")
          // admit from the just-written durable snapshot (stable under
          // the index mutation below), keyed-overwrite into the delta —
          // postings/hashes ride over from the verdict's own state, so
          // the append never re-shingles the drop
          val vdf = s.read.schema(outSchema).parquet(s"$verdictsDir/batch=$batchId")
          appendAdmittedFromState(s, vdf, state, idx, maxBucket,
            compact = false, batchKey = Some(batchId))
          state.release()
        }
        .start()
      q.awaitTermination()
      // The durable batch-partitioned verdicts table IS the loop's
      // output; the driver row localizes it (bounded: one row per
      // ingested doc at driver-row scale) only because the scratch
      // area is reclaimed below — a production deployment reads the
      // table in place.
      val rows = s.read.schema(outSchema).parquet(verdictsDir)
        .select(col("doc_id"), col("epoch"), col("exact_dup"),
          col("near_dup"), col("admit"))
        .orderBy(col("doc_id")).collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
        .orderBy(col("doc_id"))
    } finally
      // the bounded result is already driver-local; index, drops, and
      // checkpoint are scratch — reclaim them (long-lived sessions
      // must not grow disk per invocation)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(scratch))
  }

  /** Write one parquet file per epoch slice of `all` under `path`,
    * mtimes pinned strictly ascending so the mtime-ordered file
    * source replays the drops in epoch order (same load-bearing-mtime
    * contract as the streaming outer-join source; a failed
    * setLastModified falls back to the throwing NIO call). */
  private def writeDropSource(s: SparkSession, all: DataFrame, path: String,
                              splits: Seq[(Long, Long)]): Unit = {
    new java.io.File(path).mkdirs()
    for (((lo, hi), i) <- splits.zipWithIndex) {
      val tmp = s"$path/_drop_tmp$i"
      all.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no drop part file under $tmp"))
      val drop = new java.io.File(s"$path/drop$i.parquet")
      java.nio.file.Files.move(part.toPath, drop.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      val target = 1700000000000L + i * 60000L
      if (!drop.setLastModified(target))
        java.nio.file.Files.setLastModifiedTime(drop.toPath,
          java.nio.file.attribute.FileTime.fromMillis(target))
      if (drop.lastModified() != target)
        sys.error(s"cannot pin drop mtime: $drop")
    }
  }

  // ----------------------------------------------------------- span dedup

  /** Span-level duplicate-passage statistics (the Lee et al. 2021
    * "Deduplicating Training Data" substring-dedup family, at word
    * granularity): every k-token sliding span hashes via the native
    * [[graft.functions.KgramSpanHashes]] kernel (the winnow kernel's
    * k-gram chain without the window minimum — DuckDB-reproducible),
    * spans recurring in ≥ `minDocs` DISTINCT documents are duplicated
    * passages, and each document reports how many of its spans are
    * duplicated plus the fraction of its TOKENS covered by at least
    * one duplicated span (interval union of the [pos, pos+k) hits —
    * a per-row HOF fold over the sorted hit positions, not a join).
    * `keep` gates at ≤ 50% duplicated-token coverage — the usual
    * "mostly boilerplate" prune.
    *
    * Scale posture: spans shuffle as 8-byte hashes, twice (hot-span
    * groupBy; per-doc hit groupBy) — the text never shuffles. The
    * within-doc repeat case never triggers removal (DISTINCT doc
    * count), mirroring [[graft.ops.Scrub.lineDedup]]'s contract one
    * level finer. Hash collisions cannot diverge the driver row: the
    * oracle joins on the same M61 span hashes. */
  def spanDupStats(s: SparkSession, dir: String,
                   k: Int = 16, minDocs: Long = 2L): DataFrame =
    spanDupStatsOn(docs(s, dir), k, minDocs)

  /** Generic variant over any (doc_id, text) frame. */
  def spanDupStatsOn(df: DataFrame, k: Int = 16, minDocs: Long = 2L): DataFrame = {
    val base = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .filter(col("n_tokens") >= 1)
    spanStatsFromBase(base, k, minDocs, "n_tokens", "dup_token_frac")
  }

  /** Character-level span dedup — [[spanDupStatsOn]] one granularity
    * below word tokens (the true Lee et al. 2021 substring
    * granularity): whitespace is stripped entirely and every k-CHAR
    * sliding span hashes through the SAME [[graft.functions
    * .KgramSpanHashes]] kernel over single-character "tokens" (a
    * 1-char token's M61 fold is its codepoint, so the oracle mirrors
    * it as `unicode(ch)` directly). Because spans ignore whitespace, a
    * duplicated passage survives re-wrapping, double spaces, or
    * tab/space mangling — exactly the duplicates the word-level k=16
    * row structurally misses (a mangled token never equals its clean
    * twin, so EVERY word k-gram through it differs; spec-pinned with a
    * whitespace-mangled planted passage). Coverage is the fraction of
    * NON-WHITESPACE characters under at least one duplicated span.
    *
    * Scale posture: identical to the word-level plan — ~1 posting per
    * character, shuffled as 8-byte hashes twice; the text itself never
    * shuffles. Default k = 48 chars ≈ the 50-char threshold the
    * substring-dedup literature uses. */
  def charSpanDupStats(s: SparkSession, dir: String,
                       k: Int = 48, minDocs: Long = 2L): DataFrame =
    charSpanDupStatsOn(docs(s, dir), k, minDocs)

  /** Generic variant over any (doc_id, text) frame. */
  def charSpanDupStatsOn(df: DataFrame, k: Int = 48,
                         minDocs: Long = 2L): DataFrame = {
    val base = df
      .filter(col("text").isNotNull)
      // strip ALL whitespace first, then explode to single characters;
      // the length gate runs on the stripped STRING (a whitespace-only
      // text must vanish on both engines — splitting first would give
      // Spark a [""] array where DuckDB sees [])
      .select(col("doc_id"), regexp_replace(col("text"), "\\s+", "").as("w"))
      .filter(length(col("w")) >= 1)
      .select(col("doc_id"), split(col("w"), "").as("t"))
      .withColumn("n_chars", size(col("t")).cast("long"))
    spanStatsFromBase(base, k, minDocs, "n_chars", "dup_char_frac")
  }

  /** The shared span-dedup plan over a prepared (doc_id, t, `unitCol`)
    * frame — t the unit array (word tokens or single chars), `unitCol`
    * its length. */
  private def spanStatsFromBase(base: DataFrame, k: Int, minDocs: Long,
                                unitCol: String, fracCol: String): DataFrame = {
    val spans = base
      .select(col("doc_id"),
        posexplode(graft.functions.textFunctions.kgram_span_hashes(col("t"), k))
          .as(Seq("pos", "sh")))
      // the hot-span set derives from this same frame; persist so the
      // semi-join does not re-derive the kernel lineage twice (cache
      // lifetime: boundedSharedCounts' contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupSet = spans.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("sh"))
    val hits = spans.join(dupSet, Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sort_array(collect_list(col("pos"))).as("ps"))
      .withColumn("covered", expr(
        s"""aggregate(ps,
           |  named_struct('c', CAST(0 AS BIGINT), 'e', CAST(-1 AS BIGINT)),
           |  (acc, p) -> named_struct(
           |    'c', acc.c + CASE WHEN p >= acc.e THEN CAST($k AS BIGINT)
           |                      ELSE CAST(p AS BIGINT) + $k - acc.e END,
           |    'e', greatest(acc.e, CAST(p AS BIGINT) + $k)),
           |  acc -> acc.c)""".stripMargin))
      .select(col("doc_id"), col("n_dup_spans"), col("covered"))
    base.select(col("doc_id"), col(unitCol),
        greatest(col(unitCol) - (k - 1), lit(0L)).as("n_spans"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_dup_spans", coalesce(col("n_dup_spans"), lit(0L)))
      .withColumn(fracCol,
        round(coalesce(col("covered"), lit(0L)) / col(unitCol), 4))
      .select(col("doc_id"), col(unitCol), col("n_spans"),
        col("n_dup_spans"), col(fracCol),
        (col(fracCol) <= 0.5).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Multi-k span-dedup statistics — the step from fixed-k spans toward
    * the Lee et al. suffix-array family (variable-length duplicated
    * substrings): run the [[spanDupStatsOn]] k-gram posting plan at
    * SEVERAL span lengths at once (default k ∈ {16, 32, 64}) and
    * report, per document, the duplicated-span count AT EACH k plus the
    * fraction of tokens covered by the UNION of all hits. A hit at a
    * large k is qualitatively different evidence than many hits at a
    * small one: a k=64 match certifies a 64-token verbatim passage
    * (what a suffix-array longest-duplicate pass would find), while
    * scattered k=16 hits are boilerplate phrases — the per-k columns
    * let a curation policy weigh them differently, and the union
    * coverage is the exact token mass a variable-length dedup would
    * cut. Exact-substring containment makes detection monotone
    * DOWNWARD (every duplicated 64-gram contains duplicated 16-grams,
    * never the reverse), so the per-k counts form a profile from
    * "short boilerplate only" to "long verbatim passage" — pinned in
    * DedupSpec with a planted 70-token passage (hits at all three k)
    * vs a 20-token phrase (k=16 only).
    *
    * Scale posture: identical to the fixed-k plan with Σk span volume
    * (≈ |ks| postings per token) — spans shuffle as (k, 8-byte hash)
    * keys twice, text never shuffles. The variable-length interval
    * union folds per row over (pos, k) hits encoded as pos·128+k
    * (one sorted-array HOF, no join); an interval fully contained in
    * an earlier one contributes max(0, end − max(prevEnd, start)). */
  def multiKSpanStats(s: SparkSession, dir: String,
                      ks: Seq[Int] = Seq(16, 32, 64),
                      minDocs: Long = 2L): DataFrame =
    multiKSpanStatsOn(docs(s, dir), ks, minDocs)

  /** Generic variant over any (doc_id, text) frame. */
  def multiKSpanStatsOn(df: DataFrame, ks: Seq[Int] = Seq(16, 32, 64),
                        minDocs: Long = 2L): DataFrame = {
    require(ks.nonEmpty && ks == ks.sorted && ks.distinct == ks,
      s"ks must be distinct ascending, got $ks")
    require(ks.forall(k => k >= 1 && k < 128),
      s"every k must be in [1, 127] (interval keys encode as pos*128 + k), got $ks")
    val base = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .filter(col("n_tokens") >= 1)
    // one spans frame across all k: the hot-span groupBy and the
    // semi-join then run ONCE over (k, hash) keys instead of |ks|
    // separate two-shuffle plans
    val spans = ks.map { k =>
      base.select(col("doc_id"), lit(k).as("k"),
        posexplode(graft.functions.textFunctions.kgram_span_hashes(col("t"), k))
          .as(Seq("pos", "sh")))
    }.reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupSet = spans.groupBy(col("k"), col("sh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("k"), col("sh"))
    val perK = ks.map(k =>
      sum(when(col("k") === k, 1L).otherwise(0L)).as(s"n_dup_spans_k$k"))
    val aggs = perK :+
      sort_array(collect_list(col("pos").cast("long") * 128L + col("k")))
        .as("iv")
    val hits = spans.join(dupSet, Seq("k", "sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      // variable-length interval union over hits sorted by (pos, k):
      // each hit [p, p+k) adds max(0, (p+k) - max(prevEnd, p)) tokens
      .withColumn("covered", expr(
        """aggregate(iv,
          |  named_struct('c', CAST(0 AS BIGINT), 'e', CAST(-1 AS BIGINT)),
          |  (acc, x) -> named_struct(
          |    'c', acc.c + greatest(CAST(0 AS BIGINT),
          |           x DIV 128 + x % 128 - greatest(acc.e, x DIV 128)),
          |    'e', greatest(acc.e, x DIV 128 + x % 128)),
          |  acc -> acc.c)""".stripMargin))
    val dupCols = ks.map(k =>
      coalesce(col(s"n_dup_spans_k$k"), lit(0L)).as(s"n_dup_spans_k$k"))
    base.select(col("doc_id"), col("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("dup_token_frac",
        round(coalesce(col("covered"), lit(0L)) / col("n_tokens"), 4))
      .select(Seq(col("doc_id"), col("n_tokens")) ++ dupCols ++ Seq(
        col("dup_token_frac"), (col("dup_token_frac") <= 0.5).as("keep")): _*)
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ registry

  /** Sorted-neighborhood near-dup detection — the third candidate-
    * generation family next to the inverted-index (posting) and
    * band/bin (LSH/SimHash) generators: range-sort the corpus on a
    * cheap blocking key (here the 3-token prefix) and compare only
    * docs within `window` positions of each other. O(w·n) candidates
    * with ONE range exchange and no posting blowup — the method of
    * choice when a domain sort key clusters duplicates (near-dups
    * share prefixes far more often than random). Its blind spot is
    * structural and spec-pinned: duplicates whose keys sort apart are
    * never candidates (use the posting/LSH generators for those).
    *
    * The global rank comes from the two-phase range-partitioned rank
    * ([[Pipelines.withRunningTotal]]) — never a partition-less
    * row_number window. Verification is exact token-set Jaccard on
    * the w·n candidate pairs only. The range-sorted frame stays
    * persisted behind the returned lazy result (the
    * [[boundedSharedCounts]] cache contract: Verify/Bench clearCache
    * between queries; an un-cached repartitionByRange would re-sample
    * its boundaries between the offsets pass and the rank pass). */
  def sortedNeighborhoodPairs(s: SparkSession, dir: String,
                              window: Int = 2,
                              threshold: Double = 0.5): DataFrame =
    sortedNeighborhoodPairsOn(docs(s, dir), window, threshold)

  /** Generic variant over any (doc_id, text) frame. */
  def sortedNeighborhoodPairsOn(df: DataFrame, window: Int = 2,
                                threshold: Double = 0.5): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val keyed = df
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 3), " ").as("sk"),
        array_distinct(split(col("text"), " ")).as("ts"))
      .as[(Long, String, Seq[String])]
    val nParts = s.sessionState.conf.numShufflePartitions
    val sorted = keyed
      .repartitionByRange(nParts, col("sk"), col("doc_id"))
      .sortWithinPartitions(col("sk"), col("doc_id"))
      .as[(Long, String, Seq[String])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = Pipelines.withRunningTotal(sorted)(_ => 1L) {
        case ((id, _, ts), rnk) => (rnk, id, ts)
      }.toDF("rnk", "doc_id", "ts")
    val probes = ranked.select(col("rnk"), col("doc_id").as("doc_a"),
        col("ts").as("ta"),
        explode(array((1 to window).map(k => col("rnk") + k): _*)).as("nb"))
    probes
      .join(ranked.select(col("rnk").as("nb"), col("doc_id").as("doc_b"),
        col("ts").as("tb")), Seq("nb"))
      .withColumn("jaccard",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val defs: Map[String, QueryDef] = Map(
    "dedup_sorted_neighborhood" -> QueryDef(
      (s, d) => sortedNeighborhoodPairs(s, d), Some(
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |k AS (SELECT doc_id, array_to_string(list_slice(t, 1, 3), ' ') AS sk,
        |        list_distinct(t) AS ts FROM base),
        |r AS (SELECT doc_id, ts, row_number() OVER (ORDER BY sk, doc_id) AS rnk FROM k),
        |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
        |          / len(list_distinct(a.ts || b.ts)) AS jac
        |      FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 2)
        |SELECT doc_a, doc_b,
        |  CAST(round(CAST(CAST(jac AS VARCHAR) AS DECIMAL(38,28)), 4) AS DOUBLE) AS jaccard
        |FROM c WHERE jac >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),
    "dedup_exact_groups" -> QueryDef(exactDupGroups, Some(
      "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY content_hash")),
    "dedup_exact_streaming" -> QueryDef((s, d) => exactDupGroupsStreaming(s, d), Some(
      "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY 1 ORDER BY content_hash")),
    "dedup_exact" -> QueryDef(exactDedup, Some(
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY doc_id")),
    "dedup_jaccard_pairs" -> QueryDef((s, d) => jaccardPairs(s, d), Some(boundedJaccardSql)),
    // MinHash-LSH emits exact-Jaccard-verified candidate pairs, so its
    // oracle is the EXACT near-dup set: the driver row asserts
    // end-to-end recall 1 AND precision 1 of the LSH plan at driver
    // scale (recall of 32 bands × 2 rows at jac ≥ 0.5 is ≈ 1-(1-j²)³²
    // ≥ 0.9999 per pair a priori, and empirically 1.0 on this corpus's
    // planted near-dups — cross-validated in DedupSpec; a miss would
    // surface as a red driver row, which is the point of the check).
    "dedup_minhash_lsh" -> QueryDef((s, d) => minhashLshPairs(s, d), Some(exactJaccardSql)),
    // DuckDB reimplementation of the whole SimHash plan: M61+fmix64
    // shingle hashes (HUGEINT modular arithmetic), per-bit ±1 vote
    // sums, and the SAME block-pair candidate generation — candidates,
    // not a full hamming ball, because at maxHamming = 8 the block
    // join is complete only to h ≤ 6 (deterministically, on both
    // engines) and the oracle must mirror the operator's semantics.
    "dedup_simhash_pairs" -> QueryDef((s, d) => simhashPairs(s, d, maxHamming = 8),
      Some(simhashPairsSql)),
    "dedup_neardup_clusters" -> QueryDef((s, d) => neardupClusters(s, d), Some(
      s"""WITH RECURSIVE pairs AS ($boundedJaccardSql),
         |$ccFromPairsSql
         |SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""".stripMargin)),
    "dedup_multi_signal_clusters" -> QueryDef((s, d) => multiSignalClusters(s, d), Some(
      s"""WITH RECURSIVE
         |$multiSignalPairsCtes,
         |$ccFromPairsSql
         |SELECT doc_id, cluster_id FROM labels ORDER BY doc_id""".stripMargin)),
    // Oracle: the four generator-leg CTEs verbatim from the
    // multi-signal chain (one source of truth for the leg parameters,
    // MATERIALIZED — each leg is referenced 5×) + the md5 truth pair
    // set; every frame is pair-unique and a<b oriented, so the inner
    // USING join counts the exact intersection.
    "dedup_family_agreement" -> QueryDef(familyAgreement, Some({
      val legs = Seq("cdc_coverage" -> "pc", "exact_truth" -> "truth",
        "jaccard" -> "pj", "semantic" -> "pe", "simhash" -> "ps")
      val matRows = (for {
        i <- legs.indices
        j <- (i + 1) until legs.size
      } yield {
        val (na, ca) = legs(i)
        val (nb, cb) = legs(j)
        s"""  SELECT '$na' AS fam_a, '$nb' AS fam_b,
           |    (SELECT count(*) FROM $ca) AS n_a,
           |    (SELECT count(*) FROM $cb) AS n_b,
           |    (SELECT count(*) FROM (SELECT doc_a, doc_b FROM $ca) x
           |       JOIN (SELECT doc_a, doc_b FROM $cb) y USING (doc_a, doc_b)) AS n_both""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH ${multiSignalLegCtes(materialized = true)},
         |hsh AS (SELECT doc_id, md5(text) AS h FROM documents),
         |truth AS MATERIALIZED (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM hsh a JOIN hsh b ON a.h = b.h AND a.doc_id < b.doc_id),
         |mat AS (
         |$matRows)
         |SELECT fam_a, fam_b, CAST(n_a AS BIGINT) AS n_a,
         |  CAST(n_b AS BIGINT) AS n_b, CAST(n_both AS BIGINT) AS n_both,
         |  CASE WHEN n_a + n_b - n_both > 0
         |       THEN ${graft.OracleSql.round(
                  "CAST(n_both AS DOUBLE) / (n_a + n_b - n_both)", 4)}
         |       ELSE 0.0 END AS overlap_jaccard
         |FROM mat ORDER BY fam_a, fam_b""".stripMargin
    })),
    "dedup_containment_pairs" -> QueryDef((s, d) => containmentPairs(s, d), Some(
      s"""WITH ${postingSharedCtesFrom("documents")},
         |scored AS (SELECT doc_a, doc_b,
         |             ${graft.OracleSql.round("CAST(n_shared AS DOUBLE) / x.sz", 6)} AS cont_a,
         |             ${graft.OracleSql.round("CAST(n_shared AS DOUBLE) / y.sz", 6)} AS cont_b
         |           FROM shared JOIN sz x ON doc_a = x.doc_id
         |                       JOIN sz y ON doc_b = y.doc_id)
         |SELECT doc_a, doc_b, cont_a, cont_b FROM scored
         |WHERE cont_a >= 0.9 OR cont_b >= 0.9
         |ORDER BY doc_a, doc_b""".stripMargin)),
    "dedup_fuzzy_pairs" -> QueryDef((s, d) => fuzzyPairs(s, d), Some(
      s"""WITH pairs AS (${boundedJaccardSqlFrom("documents", 0.3)}),
         |t AS (SELECT doc_id, text FROM documents)
         |SELECT doc_a, doc_b, CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
         |FROM pairs JOIN t a ON doc_a = a.doc_id JOIN t b ON doc_b = b.doc_id
         |WHERE levenshtein(a.text, b.text) <= 7
         |ORDER BY doc_a, doc_b""".stripMargin)),
    "dedup_ingest_verdicts" -> QueryDef((s, d) => ingestDedup(s, d), Some(ingestVerdictsSql)),
    // Same verdicts through the PERSISTED posting index — the oracle is
    // deliberately the SAME SQL: index build + pruned reads + union-df-cap
    // reconstruction must be invisible in the output.
    "dedup_ingest_indexed" -> QueryDef((s, d) => ingestDedupIndexedQuery(s, d),
      Some(ingestVerdictsSql)),
    // The complete loop: verdict epoch 1, ADMIT its survivors into the
    // index, verdict epoch 2 against the grown index.
    "dedup_ingest_epochs" -> QueryDef((s, d) => ingestEpochsQuery(s, d),
      Some(ingestEpochsSql)),
    // The identical loop with epoch-1 admits left UN-compacted in the
    // delta area — the batched-append production mode. Deliberately
    // the SAME oracle: the delta-aware df reconstruction must be
    // invisible in the verdicts.
    "dedup_ingest_epochs_batched" -> QueryDef((s, d) => ingestEpochsBatchedQuery(s, d),
      Some(ingestEpochsSql)),
    // The same two-epoch loop through the REAL micro-batch engine:
    // one crawl drop per micro-batch (pinned-mtime file source),
    // foreachBatch verdicts each drop against the persisted index and
    // appends its admits to the delta area before the next drop.
    // Shares the batch loop's oracle verbatim: the engine must be
    // invisible in the verdicts.
    "dedup_ingest_streaming" -> QueryDef((s, d) => ingestDedupStreaming(s, d),
      Some(ingestEpochsSql)),
    // Four epochs in batched-append mode with the ENCODED compaction
    // cadence: maybeCompactPostingIndex folds the delta exactly when
    // its byte ratio crosses 0.25 (measured: fires after the second
    // append at these batch sizes, not the first or third). The
    // oracle has no notion of compaction — when the fold runs must
    // be invisible in the verdicts.
    "dedup_ingest_epochs_auto" -> QueryDef((s, d) => ingestEpochsAutoQuery(s, d),
      Some(ingestEpochsSqlAt(Seq(400L, 425L, 450L, 475L)))),
    // Independent DuckDB reimplementation of the k-gram span-hash
    // kernel (k = 16; token fold ×32, k-gram fold ×8192 mod M61 — the
    // winnow oracle's chain without the window minimum) plus the
    // interval-union coverage fold mirrored as a list_reduce.
    "dedup_span_stats" -> QueryDef((s, d) => spanDupStats(s, d), Some {
      val p = graft.functions.TextExpressions.M61
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL),
         |bn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM tok WHERE len(t) >= 1),
         |th AS (SELECT doc_id, n_tokens, list_transform(t, tk ->
         |         CAST(list_reduce([CAST(0 AS HUGEINT)] ||
         |                list_filter(list_transform(string_split(tk, ''), ch -> CAST(unicode(ch) AS HUGEINT)),
         |                            c -> c >= 0),
         |              (a, c) -> (a * 32 + c) % $p) AS BIGINT)) AS hs
         |       FROM bn),
         |kh AS (SELECT doc_id, list_transform(range(len(hs) - 15), i ->
         |         CAST(list_reduce([CAST(0 AS HUGEINT)] ||
         |                list_transform(list_slice(hs, i + 1, i + 16), h -> CAST(h AS HUGEINT)),
         |              (a, h) -> (a * 8192 + h) % $p) AS BIGINT)) AS kh
         |       FROM th WHERE len(hs) >= 16),
         |sp AS (SELECT doc_id, unnest(range(len(kh))) AS pos, unnest(kh) AS sh FROM kh),
         |dup AS (SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
         |dp AS (SELECT doc_id, count(*) AS n_dup_spans, list_sort(list(pos)) AS ps
         |       FROM sp SEMI JOIN dup USING (sh) GROUP BY doc_id),
         |cov AS (SELECT doc_id, n_dup_spans,
         |          (list_reduce(
         |             [struct_pack(c := CAST(0 AS BIGINT), e := CAST(-1 AS BIGINT))] ||
         |               list_transform(ps, q -> struct_pack(c := CAST(q AS BIGINT), e := CAST(0 AS BIGINT))),
         |             (a, x) -> struct_pack(
         |               c := a.c + CASE WHEN x.c >= a.e THEN 16 ELSE x.c + 16 - a.e END,
         |               e := greatest(a.e, x.c + 16)))).c AS covered
         |        FROM dp),
         |agg AS (SELECT b.doc_id, b.n_tokens,
         |          greatest(b.n_tokens - 15, 0) AS n_spans,
         |          coalesce(n_dup_spans, 0) AS n_dup_spans,
         |          ${graft.OracleSql.round("CAST(coalesce(covered, 0) AS DOUBLE) / n_tokens", 4)} AS dup_token_frac
         |        FROM bn b LEFT JOIN cov USING (doc_id))
         |SELECT doc_id, n_tokens, n_spans, n_dup_spans, dup_token_frac,
         |       dup_token_frac <= 0.5 AS keep
         |FROM agg ORDER BY doc_id""".stripMargin
    }),
    // The multi-k union (k ∈ {16,32,64}) with the variable-length
    // interval-union fold — per-k duplicated-span profiles plus union
    // token coverage, oracle-mirrored with one sp CTE per k and the
    // (pos·128+k)-encoded fold.
    "dedup_span_multi_k" -> QueryDef((s, d) => multiKSpanStats(s, d),
      Some(multiKSpanSql(Seq(16, 32, 64)))),
    // Character-granularity spans over whitespace-stripped text: the
    // oracle's unit hash is unicode(ch) directly (a 1-char token's
    // base-32 M61 fold IS its codepoint), then the same base-8192
    // k-gram chain and interval-union coverage fold as the word row.
    "dedup_span_chars" -> QueryDef((s, d) => charSpanDupStats(s, d),
      Some(charSpanSql(48))),
    // Content-defined chunking (Gear/FastCDC): boundaries re-sync
    // after insertions, so chunk dedup is shift-robust where fixed
    // windows are not. Oracle reproduces the gear fold per position
    // (64-char window — the shift register's implicit horizon), then
    // walks the min/max-clamped cut sequence as unrolled aggregate
    // steps (DuckDB 1.0's list_reduce corrupts sequential state
    // across rows for non-trivial lambdas — measured; and correlated
    // subqueries inside recursive CTEs silently return NULL, hence
    // the generated w1..wN chain).
    "dedup_cdc_chunks" -> QueryDef((s, d) => cdcChunkStats(s, d),
      Some(cdcChunkSql(6, 16, 256, 2L, 80))),
    // Chunk-coverage pair evidence over the same CDC posting universe
    // (shared cdcPostingCtes chain — the df-cap and chunk hashes
    // cannot diverge between the stats and pair oracles).
    "dedup_cdc_pairs" -> QueryDef((s, d) => cdcCoverPairs(s, d),
      Some(s"WITH ${cdcPairsSqlBody(6, 16, 256, 0.5, 1000, 80)}")),
    // Provenance observability: per-source exact-duplicate rates
    // under the global keeper rule.
    "dedup_rate_by_source" -> QueryDef((s, d) => dedupRateBySource(s, d), Some(
      """WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        |k AS (SELECT h, min(doc_id) AS keep_id FROM d GROUP BY h),
        |f AS (SELECT d.source, d.doc_id, k.keep_id FROM d JOIN k USING (h)),
        |agg AS (SELECT source, count(*) AS n_docs,
        |          CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
        |        FROM f GROUP BY source)
        |SELECT source, n_docs, n_dups,
        |  CAST(round(CAST(CAST(CAST(n_dups AS DOUBLE) / n_docs AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS dup_rate
        |FROM agg ORDER BY source""".stripMargin)))

  /** Independent DuckDB reimplementation of [[charSpanDupStatsOn]]:
    * whitespace-stripped char array, per-char hashes as unicode
    * codepoints, the base-8192 k-gram chain, hot-span set, and the
    * fixed-k interval-union coverage fold. */
  private def charSpanSql(k: Int): String = {
    val p = graft.functions.TextExpressions.M61
    s"""WITH stripped AS (SELECT doc_id, regexp_replace(text, '\\s+', '', 'g') AS w
       |  FROM documents WHERE text IS NOT NULL),
       |bn AS (SELECT doc_id, string_split(w, '') AS t, CAST(len(w) AS BIGINT) AS n_chars
       |       FROM stripped WHERE len(w) >= 1),
       |th AS (SELECT doc_id, n_chars,
       |         list_transform(t, ch -> CAST(unicode(ch) AS BIGINT)) AS hs FROM bn),
       |kh AS (SELECT doc_id, list_transform(range(len(hs) - ${k - 1}), i ->
       |         CAST(list_reduce([CAST(0 AS HUGEINT)] ||
       |                list_transform(list_slice(hs, i + 1, i + $k), h -> CAST(h AS HUGEINT)),
       |              (a, h) -> (a * 8192 + h) % $p) AS BIGINT)) AS kh
       |       FROM th WHERE len(hs) >= $k),
       |sp AS (SELECT doc_id, unnest(range(len(kh))) AS pos, unnest(kh) AS sh FROM kh),
       |dup AS (SELECT sh FROM sp GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (SELECT doc_id, count(*) AS n_dup_spans, list_sort(list(pos)) AS ps
       |       FROM sp SEMI JOIN dup USING (sh) GROUP BY doc_id),
       |cov AS (SELECT doc_id, n_dup_spans,
       |          (list_reduce(
       |             [struct_pack(c := CAST(0 AS BIGINT), e := CAST(-1 AS BIGINT))] ||
       |               list_transform(ps, q -> struct_pack(c := CAST(q AS BIGINT), e := CAST(0 AS BIGINT))),
       |             (a, x) -> struct_pack(
       |               c := a.c + CASE WHEN x.c >= a.e THEN $k ELSE x.c + $k - a.e END,
       |               e := greatest(a.e, x.c + $k)))).c AS covered
       |        FROM dp),
       |agg AS (SELECT b.doc_id, b.n_chars,
       |          greatest(b.n_chars - ${k - 1}, 0) AS n_spans,
       |          coalesce(n_dup_spans, 0) AS n_dup_spans,
       |          ${graft.OracleSql.round("CAST(coalesce(covered, 0) AS DOUBLE) / n_chars", 4)} AS dup_char_frac
       |        FROM bn b LEFT JOIN cov USING (doc_id))
       |SELECT doc_id, n_chars, n_spans, n_dup_spans, dup_char_frac,
       |       dup_char_frac <= 0.5 AS keep
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** Exact-duplicate RATE per source — the provenance observability
    * dedup runs are reported through: crawls/feeds with high internal
    * duplication get down-weighted or re-crawled, and a sudden rate
    * jump in one source is the standard pipeline-incident signal.
    * A doc is a duplicate iff a smaller doc_id shares its md5 (the
    * [[exactDedup]] keeper rule, GLOBAL — cross-source copies charge
    * the source holding the later copy); rates aggregate per
    * `source`. One hash shuffle, one source-keyed count. */
  def dedupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    d.join(keep, Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs"), 4).as("dup_rate"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------- content-defined chunks

  /** Chunk-level duplicate statistics via content-defined chunking
    * (the Gear/FastCDC family, Xia et al. FAST'16 — storage dedup's
    * answer to the shift problem, applied to corpus text): documents
    * split at content-derived boundaries by the native
    * [[graft.functions.CdcChunkHashes]] kernel (rolling gear hash,
    * boundary where the low `maskBits` bits vanish, min/max clamps),
    * chunks recurring in ≥ `minDocs` DISTINCT documents are shared
    * content, and each document reports its chunk count, duplicated
    * chunk count, and the fraction of characters inside duplicated
    * chunks. Because boundaries re-synchronize with content, an
    * insertion near the head of a near-copy leaves every downstream
    * chunk hash intact — the shift-robustness that fixed-k span
    * windows ([[spanDupStatsOn]]) only recover by hashing EVERY
    * sliding position (~1 posting per token vs ~1 per 2^maskBits
    * chars here: CDC trades recall granularity for a 2^maskBits×
    * smaller posting volume). Chunks are non-overlapping, so coverage
    * is a plain sum of duplicated-chunk lengths — no interval-union
    * fold. `keep` gates at ≤ 50% duplicated-character coverage.
    *
    * Scale posture: chunks shuffle as 8-byte hashes (~1 per 64 chars
    * at maskBits = 6), twice (hot-chunk groupBy; per-doc hit groupBy)
    * — the text never shuffles, and posting volume is an order of
    * magnitude below the span rows'. Within-doc repeats alone never
    * mark a chunk duplicated (DISTINCT doc count). Hash collisions
    * cannot diverge the driver row: the oracle joins on the same
    * M61+fmix64 chunk hashes. */
  def cdcChunkStats(s: SparkSession, dir: String, maskBits: Int = 6,
                    minLen: Int = 16, maxLen: Int = 256,
                    minDocs: Long = 2L): DataFrame =
    cdcChunkStatsOn(docs(s, dir), maskBits, minLen, maxLen, minDocs)

  /** Generic variant over any (doc_id, text) frame. */
  def cdcChunkStatsOn(df: DataFrame, maskBits: Int = 6, minLen: Int = 16,
                      maxLen: Int = 256, minDocs: Long = 2L): DataFrame = {
    val base = df
      .filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        graft.functions.textFunctions
          .cdc_chunk_hashes(col("text"), maskBits, minLen, maxLen).as("cs"))
    val posting = base
      .select(col("doc_id"), explode(col("cs")).as("c"))
      .select(col("doc_id"), col("c.h").as("h"), col("c.len").as("ln"))
      // hot-chunk set and per-doc hits both derive from this frame;
      // persist so the kernel lineage runs once (cache lifetime:
      // boundedSharedCounts' contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupSet = posting.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    val hits = posting.join(dupSet, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_chunks"), sum(col("ln")).as("dup_chars"))
    base.select(col("doc_id"), col("n_chars"),
        size(col("cs")).cast("long").as("n_chunks"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_dup_chunks", coalesce(col("n_dup_chunks"), lit(0L)))
      .withColumn("dup_char_frac",
        round(coalesce(col("dup_chars"), lit(0L)) / col("n_chars"), 4))
      .select(col("doc_id"), col("n_chars"), col("n_chunks"),
        col("n_dup_chunks"), col("dup_char_frac"),
        (col("dup_char_frac") <= 0.5).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** CDC chunk-COVERAGE near-dup pairs — the pair-evidence face of
    * [[cdcChunkStatsOn]], and the fourth candidate family of the
    * multi-signal endgame: two documents pair when the characters
    * inside their SHARED content-defined chunks cover ≥ `threshold`
    * of either side's (df-capped) chunked characters. Because Gear
    * boundaries re-synchronize after an insertion, a near-copy with a
    * prepended header still shares every downstream chunk — the class
    * token-shingle Jaccard dilutes and SimHash voting blurs, at ~1
    * posting per 2^maskBits chars instead of ~1 per token.
    *
    * Same bounded-inverted-index shape as [[boundedSharedCounts]]:
    * per-doc DISTINCT chunk postings (repeats inside a doc collapse
    * to one row carrying their total chars), chunks in > `maxBucket`
    * docs dropped (both numerator and denominator live in the capped
    * universe — the module's df-cap invariant), candidates = Σ
    * bucket² over 8-byte hashes, text never on the wire. Coverage is
    * per-SIDE (cov_a from A's chars of shared chunks / A's total),
    * so a short doc contained in a long one still scores 1.0 on its
    * own side — the containment asymmetry, at chunk granularity. */
  def cdcCoverPairs(s: SparkSession, dir: String, maskBits: Int = 6,
                    minLen: Int = 16, maxLen: Int = 256,
                    threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    cdcCoverPairsOn(docs(s, dir), maskBits, minLen, maxLen, threshold, maxBucket)

  /** Generic variant over any (doc_id, text) frame. */
  def cdcCoverPairsOn(df: DataFrame, maskBits: Int = 6, minLen: Int = 16,
                      maxLen: Int = 256, threshold: Double = 0.5,
                      maxBucket: Int = 1000): DataFrame = {
    // one groupBy(h) folds each chunk bucket into a doc-id-sorted
    // (doc_id, chars) array for [[PairGen.pairs]], df-capped by a
    // post-aggregation size filter; the chunk kernel runs exactly
    // once and the only cached frame is the bucket-list frame
    val lists = df
      .filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"),
        explode(graft.functions.textFunctions
          .cdc_chunk_hashes(col("text"), maskBits, minLen, maxLen)).as("c"))
      .select(col("doc_id"), col("c.h").as("h"), col("c.len").as("ln"))
      .groupBy(col("doc_id"), col("h"))
      .agg(sum(col("ln")).cast("long").as("chars"))
      .groupBy(col("h"))
      // struct sorts by leading field: doc-id order, unique per bucket
      .agg(sort_array(collect_list(struct(col("doc_id"), col("chars")))).as("ds"))
      .filter(size(col("ds")) <= maxBucket)
      .select(col("ds"))
      // read twice (pair generation + per-doc sizes); cache lifetime:
      // boundedSharedCounts' contract
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = lists.select(explode(col("ds")).as("d"))
      .groupBy(col("d.doc_id").as("doc_id"))
      .agg(sum(col("d.chars")).as("sz"))
    PairGen.pairs(lists, col("ds"), splitHubs = maxBucket > PairGen.Chunk)
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(sum(col("x.chars")).as("sa"), sum(col("y.chars")).as("sb"))
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("cov_a", round(col("sa").cast("double") / col("sz_a"), 6))
      .withColumn("cov_b", round(col("sb").cast("double") / col("sz_b"), 6))
      .filter(col("cov_a") >= threshold || col("cov_b") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cov_a"), col("cov_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Independent DuckDB reimplementation of [[cdcChunkStatsOn]].
    *
    * The gear hash never resets at boundaries, so h at position i is a
    * pure function of the char stream — and because `h << 1` discards
    * contributions older than 64 positions, h_i equals a fold over the
    * trailing 64-char window, computable per position WITHOUT
    * sequential chunk state (the `cpos` candidate set). The only
    * sequential part — the min/max-clamped cut walk over candidates —
    * unrolls as `steps` tiny aggregate CTEs (next cut = min(first
    * candidate ≥ last+minLen, last+maxLen), emitted while ≤ n), each
    * MATERIALIZED so the chain plans linearly. `steps` must be ≥ the
    * max cuts per doc = ceil(maxDocLen / minLen); the registered 80
    * covers docs to 1280 chars (testdata max is 577 — headroom for a
    * regenerated-vintage length bump; a doc beyond the budget would
    * silently lose its tail cuts, so size generously — the walk CTEs
    * are the cheap part of this oracle).
    *
    * Formulations that do NOT work in DuckDB 1.0, found the hard way:
    * list_reduce with a struct accumulator updates fields in place
    * (later fields read already-updated earlier ones), a lambda
    * capturing an outer column inside list_reduce binds it to the
    * WRONG ROW under vectorization, and a correlated subquery in a
    * recursive CTE's recursive term silently yields NULL. The shapes
    * used here — list_filter/list_transform lambdas (captures fine),
    * scalar-accumulator list_reduce, per-row staged CTEs — are the
    * proven-safe subset the other oracles already rely on. */
  /** The CDC posting CTE chain (no leading WITH): per-position gear
    * hashes, the unrolled cut walk, chunk extraction and the M61 chunk
    * hashes — ends at `khc` (doc_id, n, ln, h), ONE source for the
    * chunk-stats AND coverage-pair oracles. */
  private[ops] def cdcPostingCtes(maskBits: Int, minLen: Int, maxLen: Int,
                                  steps: Int): String = {
    val two64 = graft.OracleSql.two64
    val walk = (1 to steps).map { k =>
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      s"""w$k AS MATERIALIZED (
         |  SELECT w.doc_id, w.n, least(coalesce(min(c.p), w.cut + $maxLen), w.cut + $maxLen) AS cut
         |  FROM $prev w LEFT JOIN cpos c ON c.doc_id = w.doc_id AND c.p >= w.cut + $minLen
         |  GROUP BY w.doc_id, w.n, w.cut
         |  HAVING least(coalesce(min(c.p), w.cut + $maxLen), w.cut + $maxLen) <= w.n)""".stripMargin
    }.mkString(",\n")
    val walkUnion = (1 to steps).map(k => s"SELECT doc_id, cut FROM w$k")
      .mkString(" UNION ALL ")
    s"""d AS (SELECT doc_id, text AS w FROM documents
       |  WHERE text IS NOT NULL AND len(text) >= 1),
       |chars AS (SELECT doc_id, unnest(range(1, len(w)+1)) AS pos,
       |            unnest(list_transform(string_split(w, ''), ch -> unicode(ch))) AS cp FROM d),
       |${graft.OracleSql.fmix64Ctes("chars", "cp", out = "gs", p = "gx")},
       |glist AS (SELECT doc_id, list(CASE WHEN gs < 0 THEN CAST(gs AS HUGEINT) + $two64
       |                                   ELSE CAST(gs AS HUGEINT) END ORDER BY pos) AS g
       |          FROM gx GROUP BY doc_id),
       |cpos AS MATERIALIZED (SELECT doc_id, unnest(list_filter(range(1, len(g) + 1), i ->
       |      list_reduce([CAST(0 AS HUGEINT)] || list_slice(g, greatest(1, i - 63), i),
       |        (a, x) -> (a * 2 + x) % $two64) % ${1L << maskBits} = 0)) AS p
       |  FROM glist),
       |w0 AS MATERIALIZED (SELECT doc_id, CAST(len(w) AS BIGINT) AS n, CAST(0 AS BIGINT) AS cut FROM d),
       |$walk,
       |cuts AS ($walkUnion),
       |ends AS (SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n,
       |    coalesce(list_sort(list(c.cut) FILTER (WHERE c.cut IS NOT NULL)), []) AS cs
       |  FROM d LEFT JOIN cuts c ON d.doc_id = c.doc_id GROUP BY d.doc_id, d.w),
       |ends2 AS (SELECT doc_id, n,
       |    CASE WHEN len(cs) > 0 AND cs[-1] = n THEN cs ELSE cs || [n] END AS es FROM ends),
       |pieces AS (SELECT e.doc_id, e.n,
       |    unnest(list_transform(range(1, len(es) + 1), j -> struct_pack(
       |      st := CASE WHEN j = 1 THEN CAST(1 AS BIGINT) ELSE es[j-1] + 1 END,
       |      en := es[j]))) AS c FROM ends2 e),
       |chunk AS (SELECT pieces.doc_id, pieces.n, c.en - c.st + 1 AS ln,
       |       substr(d.w, CAST(c.st AS INTEGER), CAST(c.en - c.st + 1 AS INTEGER)) AS s
       |  FROM pieces JOIN d ON pieces.doc_id = d.doc_id),
       |${graft.OracleSql.m61FmixScalarCtes("chunk", "s", out = "h", p = "khc")}""".stripMargin
  }

  private def cdcChunkSql(maskBits: Int, minLen: Int, maxLen: Int,
                          minDocs: Long, steps: Int): String =
    s"""WITH ${cdcPostingCtes(maskBits, minLen, maxLen, steps)},
       |dup AS (SELECT h FROM khc GROUP BY h HAVING count(DISTINCT doc_id) >= $minDocs),
       |hits AS (SELECT doc_id, count(*) AS n_dup_chunks, CAST(sum(ln) AS BIGINT) AS dup_chars
       |         FROM khc SEMI JOIN dup USING (h) GROUP BY doc_id),
       |tot AS (SELECT doc_id, max(n) AS n_chars, count(*) AS n_chunks FROM khc GROUP BY doc_id),
       |agg AS (SELECT t.doc_id, t.n_chars, t.n_chunks,
       |          coalesce(hi.n_dup_chunks, 0) AS n_dup_chunks,
       |          ${graft.OracleSql.round("CAST(coalesce(hi.dup_chars, 0) AS DOUBLE) / t.n_chars", 4)} AS dup_char_frac
       |        FROM tot t LEFT JOIN hits hi USING (doc_id))
       |SELECT doc_id, n_chars, n_chunks, n_dup_chunks, dup_char_frac,
       |       dup_char_frac <= 0.5 AS keep
       |FROM agg ORDER BY doc_id""".stripMargin

  /** [[cdcCoverPairsOn]]'s oracle body (no leading WITH clause keyword
    * — composable under a nested WITH): the shared [[cdcPostingCtes]]
    * chain, per-doc distinct-chunk postings, df-cap, the coverage
    * self-join and per-side thresholds. */
  private[ops] def cdcPairsSqlBody(maskBits: Int, minLen: Int, maxLen: Int,
                                   threshold: Double, maxBucket: Int,
                                   steps: Int): String =
    s"""${cdcPostingCtes(maskBits, minLen, maxLen, steps)},
       |khd AS (SELECT doc_id, h, CAST(sum(ln) AS BIGINT) AS chars
       |        FROM khc GROUP BY doc_id, h),
       |chot AS (SELECT h FROM khd GROUP BY h HAVING count(*) > $maxBucket),
       |khb AS (SELECT k.doc_id, k.h, k.chars FROM khd k ANTI JOIN chot c ON k.h = c.h),
       |csz AS (SELECT doc_id, CAST(sum(chars) AS BIGINT) AS sz FROM khb GROUP BY doc_id),
       |cshared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |              CAST(sum(a.chars) AS BIGINT) AS sa, CAST(sum(b.chars) AS BIGINT) AS sb
       |            FROM khb a JOIN khb b ON a.h = b.h AND a.doc_id < b.doc_id
       |            GROUP BY 1, 2),
       |cscored AS (SELECT doc_a, doc_b,
       |              ${graft.OracleSql.round("CAST(sa AS DOUBLE) / x.sz", 6)} AS cov_a,
       |              ${graft.OracleSql.round("CAST(sb AS DOUBLE) / y.sz", 6)} AS cov_b
       |            FROM cshared JOIN csz x ON doc_a = x.doc_id
       |                         JOIN csz y ON doc_b = y.doc_id)
       |SELECT doc_a, doc_b, cov_a, cov_b FROM cscored
       |WHERE cov_a >= $threshold OR cov_b >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** tok/bn/th CTE prefix of the span-dedup oracles: tokenized docs
    * and per-token M61 polynomial hashes (base 32) — the DuckDB mirror
    * of [[graft.functions.KgramSpanHashes]]' token stage. */
  private def spanTokenHashCtes: String = {
    val p = graft.functions.TextExpressions.M61
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE text IS NOT NULL),
       |bn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM tok WHERE len(t) >= 1),
       |th AS (SELECT doc_id, n_tokens, list_transform(t, tk ->
       |         CAST(list_reduce([CAST(0 AS HUGEINT)] ||
       |                list_filter(list_transform(string_split(tk, ''), ch -> CAST(unicode(ch) AS HUGEINT)),
       |                            c -> c >= 0),
       |              (a, c) -> (a * 32 + c) % $p) AS BIGINT)) AS hs
       |       FROM bn)""".stripMargin
  }

  /** Per-k oracle CTE pair: kh$k (the k-gram chain, base 8192 over the
    * token hashes) and sp$k (exploded (doc, k, pos, hash) postings). */
  private def spanKgramCtes(k: Int): String = {
    val p = graft.functions.TextExpressions.M61
    s"""kh$k AS (SELECT doc_id, list_transform(range(len(hs) - ${k - 1}), i ->
       |         CAST(list_reduce([CAST(0 AS HUGEINT)] ||
       |                list_transform(list_slice(hs, i + 1, i + $k), h -> CAST(h AS HUGEINT)),
       |              (a, h) -> (a * 8192 + h) % $p) AS BIGINT)) AS kh
       |       FROM th WHERE len(hs) >= $k),
       |sp$k AS (SELECT doc_id, $k AS k, unnest(range(len(kh))) AS pos, unnest(kh) AS sh FROM kh$k)""".stripMargin
  }

  /** Independent DuckDB reimplementation of [[multiKSpanStatsOn]]:
    * one kh/sp chain per k, hot-span sets per (k, hash), per-k
    * conditional counts, and the variable-length interval-union fold
    * over hits encoded as pos·128+k (sorted BIGINT keys decode inside
    * the lambda — identical sort order on both engines). */
  private def multiKSpanSql(ks: Seq[Int]): String = {
    val perKCtes = ks.map(spanKgramCtes).mkString(",\n")
    val spUnion = ks.map(k => s"SELECT * FROM sp$k").mkString(" UNION ALL ")
    val perKCounts = ks.map(k =>
      s"CAST(sum(CASE WHEN k = $k THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans_k$k")
      .mkString(",\n         ")
    val perKNames = ks.map(k => s"n_dup_spans_k$k").mkString(", ")
    val perKCoalesce = ks.map(k =>
      s"coalesce(n_dup_spans_k$k, 0) AS n_dup_spans_k$k").mkString(",\n          ")
    s"""WITH $spanTokenHashCtes,
       |$perKCtes,
       |sp AS ($spUnion),
       |dup AS (SELECT k, sh FROM sp GROUP BY k, sh HAVING count(DISTINCT doc_id) >= 2),
       |dp AS (SELECT doc_id,
       |         $perKCounts,
       |         list_sort(list(CAST(pos AS BIGINT) * 128 + k)) AS iv
       |       FROM sp SEMI JOIN dup USING (k, sh) GROUP BY doc_id),
       |cov AS (SELECT doc_id, $perKNames,
       |          (list_reduce(
       |             [struct_pack(c := CAST(0 AS BIGINT), e := CAST(-1 AS BIGINT))] ||
       |               list_transform(iv, q -> struct_pack(c := CAST(q AS BIGINT), e := CAST(0 AS BIGINT))),
       |             (a, x) -> struct_pack(
       |               c := a.c + greatest(0, (x.c // 128) + (x.c % 128) - greatest(a.e, x.c // 128)),
       |               e := greatest(a.e, (x.c // 128) + (x.c % 128))))).c AS covered
       |        FROM dp),
       |agg AS (SELECT b.doc_id, b.n_tokens,
       |          $perKCoalesce,
       |          ${graft.OracleSql.round("CAST(coalesce(covered, 0) AS DOUBLE) / n_tokens", 4)} AS dup_token_frac
       |        FROM bn b LEFT JOIN cov USING (doc_id))
       |SELECT doc_id, n_tokens, $perKNames, dup_token_frac,
       |       dup_token_frac <= 0.5 AS keep
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  // defs, not vals: `defs` (declared above) forces the lazy oracle
  // strings during object init, BEFORE later vals would be assigned
  private def two64 = "CAST(18446744073709551616 AS HUGEINT)"
  private def two63 = "CAST(9223372036854775808 AS HUGEINT)"

  /** (h * C) % 2^64 in DuckDB via hi/lo 32-bit split: intermediates
    * stay < 2^97 < INT128 max. */
  private def mulmod(h: String, c: Long): String = {
    val hi = c >>> 32
    val lo = c & 0xffffffffL
    s"((($h * CAST($hi AS HUGEINT)) % 4294967296) * 4294967296 + $h * CAST($lo AS HUGEINT)) % $two64"
  }

  /** Shared DuckDB CTE chain (no WITH): per-doc distinct word-3-gram
    * shingles, each hashed with the M61 polynomial fold + murmur fmix64
    * — an independent reimplementation of
    * [[graft.functions.M61TokenHashes]] via HUGEINT modular arithmetic
    * (fmix's mod-2^64 multiplies by 32-bit split multiplication so the
    * 128-bit intermediates never overflow signed INT128). Final CTE
    * `th`: (doc_id, th list<BIGINT>), hash values converted to
    * two's-complement BIGINT (− 2^64 when ≥ 2^63) exactly as the JVM
    * kernel's signed longs. Consumed by both the SimHash oracle (bit
    * votes) and the Jaccard oracle (hash postings). */
  private def shingleHashCtes: String = shingleHashCtesFrom("documents")

  /** Same chain over an arbitrary (doc_id, text) source relation —
    * composed pipelines run the near-dup stage over FILTERED survivor
    * CTEs, not the raw table. */
  private[ops] def shingleHashCtesFrom(src: String): String = {
    val p = graft.functions.TextExpressions.M61
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
       |         i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS s
       |       FROM tok WHERE len(t) >= 3),
       |h0 AS (SELECT doc_id, list_transform(s, tk ->
       |         list_reduce([CAST(0 AS HUGEINT)] ||
       |                list_filter(list_transform(string_split(tk, ''), ch -> CAST(unicode(ch) AS HUGEINT)),
       |                            c -> c >= 0),
       |              (a, c) -> (a * 32 + c) % $p)) AS th
       |       FROM sh),
       |h1 AS (SELECT doc_id, list_transform(th, h -> xor(h, h >> 33)) AS th FROM h0),
       |h2 AS (SELECT doc_id, list_transform(th, h -> ${mulmod("h", 0xff51afd7ed558ccdL)}) AS th FROM h1),
       |h3 AS (SELECT doc_id, list_transform(th, h -> xor(h, h >> 33)) AS th FROM h2),
       |h4 AS (SELECT doc_id, list_transform(th, h -> ${mulmod("h", 0xc4ceb9fe1a85ec53L)}) AS th FROM h3),
       |th AS (SELECT doc_id, list_transform(th, h ->
       |         CAST(CASE WHEN xor(h, h >> 33) >= $two63
       |                   THEN xor(h, h >> 33) - $two64
       |                   ELSE xor(h, h >> 33) END AS BIGINT)) AS th FROM h4)""".stripMargin
  }

  /** `jaccardPairs` oracle: same count-based formulation INCLUDING the
    * df > 1000 posting guard, so Spark and DuckDB agree on datasets
    * with degenerate shingles too (on the testdata, where max df ≈ 25,
    * it returns exactly [[exactJaccardSql]]'s rows). Postings are the
    * SAME M61+fmix64 hashes the Spark plan joins on ([[shingleHashCtes]]),
    * so a hash collision yields identical output on both engines.
    * Shared with [[Pipelines]]' composed near-dup-removal oracle. */
  private[ops] lazy val boundedJaccardSql: String = boundedJaccardSqlFrom("documents")

  /** Parameterized over the (doc_id, text) source relation; a nested
    * WITH keeps the chain's CTE names (tok/sh/.../scored) from
    * colliding with a composing oracle's own CTEs. */
  /** Connected-components CTE chain over an upstream `pairs` CTE
    * (requires WITH RECURSIVE upstream; no leading WITH): CTEs
    * nodes/edges/reach, final `labels` = (doc_id, cluster_id) —
    * ONE source for every cluster-consuming oracle (near-dup
    * clusters, multi-signal clusters, both keep-best flavors). */
  private[ops] def ccFromPairsSql: String =
    """nodes AS (SELECT DISTINCT id FROM
      |  (SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs)),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
      |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** The four-generator pair-union CTE chain (pj/ps/pe/pc → `pairs`),
    * shared by the multi-signal cluster and keep-best oracles. The
    * simhash leg mirrors the engine's maxHamming = 6 (the complete
    * range of the block-pair scheme — see multiSignalClusters); the
    * CDC leg mirrors the engine's coverage 0.8 endgame bar. */
  /** The four generator-leg CTEs (pj/ps/pe/pc) of the multi-signal
    * chain — ONE place owns the leg parameters, shared by the cluster
    * endgame, the keep-best pipeline, and the agreement matrix.
    * `materialized = true` pins DuckDB's CTE materialization for
    * consumers that reference each leg several times (the agreement
    * matrix reads every leg 5×; inlined, each reference re-expands
    * the leg's whole posting chain). */
  private[ops] def multiSignalLegCtes(materialized: Boolean = false): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    s"""pj AS$m ($boundedJaccardSql),
       |ps AS$m (${simhashPairsSqlAt(6)}),
       |pe AS$m (WITH ${Similarity.semanticAvCtes}
       |       ${Similarity.semanticPairSelect}),
       |pc AS$m (WITH ${cdcPairsSqlBody(6, 16, 256, 0.8, 1000, 80)})""".stripMargin
  }

  private[ops] def multiSignalPairsCtes: String =
    s"""${multiSignalLegCtes()},
       |pairs AS (SELECT doc_a, doc_b FROM pj
       |          UNION SELECT doc_a, doc_b FROM ps
       |          UNION SELECT doc_a, doc_b FROM pe
       |          UNION SELECT doc_a, doc_b FROM pc)""".stripMargin

  /** The bounded-posting CTE chain shared by the Jaccard AND
    * containment oracles — the SQL twin of [[boundedSharedCounts]]
    * (one source, so the df-cap/size-universe invariant cannot
    * diverge between the scorers). Emits CTEs ex/hot/exb/sz/shared. */
  private[ops] def postingSharedCtesFrom(src: String): String =
    s"""${shingleHashCtesFrom(src)},
      |ex AS (SELECT doc_id, unnest(th) AS g FROM th),
      |hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) > 1000),
      |exb AS (SELECT e.doc_id, e.g FROM ex e ANTI JOIN hot h ON e.g = h.g),
      |sz AS (SELECT doc_id, count(*) AS sz FROM exb GROUP BY doc_id),
      |shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |           FROM exb a JOIN exb b ON a.g = b.g AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2)""".stripMargin

  private[ops] def boundedJaccardSqlFrom(src: String,
                                         threshold: Double = 0.5): String =
    s"""WITH ${postingSharedCtesFrom(src)},
      |scored AS (SELECT doc_a, doc_b,
      |             CAST(n_shared AS DOUBLE) / (x.sz + y.sz - n_shared) AS jac
      |           FROM shared JOIN sz x ON doc_a = x.doc_id
      |                       JOIN sz y ON doc_b = y.doc_id)
      |SELECT doc_a, doc_b, jac FROM scored WHERE jac >= $threshold
      |ORDER BY doc_a, doc_b""".stripMargin

  /** `simhashPairs(maxHamming = 8)` oracle: independent DuckDB
    * reimplementation of [[graft.functions.M61TokenHashes]] — the M61
    * polynomial fold (same HUGEINT recipe as TextAnalysis' fingerprint
    * CTE) plus murmur fmix64, whose mod-2^64 multiplies are done by
    * 32-bit split multiplication so the 128-bit intermediates never
    * overflow signed INT128 — then the bit-vote SimHash over all 64
    * bits and the 28-table block-pair candidate join. Signed/unsigned
    * bridging: hash values live in [0, 2^64) as HUGEINT during the
    * mix, and convert to two's-complement BIGINT (− 2^64 when ≥ 2^63)
    * before bit votes; arithmetic >> plus & masks extract bits
    * identically to Java's >>> on both engines. */
  private lazy val simhashPairsSql: String = simhashPairsSqlAt(8)

  private def simhashPairsSqlAt(maxHamming: Int): String = {
    s"""WITH $shingleHashCtes,
       |sim AS (SELECT doc_id,
       |         CAST(CASE WHEN ssum >= $two63 THEN ssum - $two64 ELSE ssum END AS BIGINT) AS simhash
       |        FROM (SELECT doc_id,
       |                list_sum(list_transform(range(64), i ->
       |                  CASE WHEN list_sum(list_transform(th, h -> ((h >> i) & 1) * 2 - 1)) >= 0
       |                       THEN (CAST(1 AS HUGEINT) << i) ELSE CAST(0 AS HUGEINT) END)) AS ssum
       |              FROM th)),
       |ch AS (SELECT doc_id, simhash, c1.c1 * 8 + c2.c2 AS tbl,
       |              ((simhash >> (c1.c1 * 8)) & 255) * 256 + ((simhash >> (c2.c2 * 8)) & 255) AS chv
       |       FROM sim,
       |            (SELECT unnest(range(8)) AS c1) c1,
       |            (SELECT unnest(range(8)) AS c2) c2
       |       WHERE c1.c1 < c2.c2),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |         FROM ch a JOIN ch b ON a.tbl = b.tbl AND a.chv = b.chv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Ingest-verdict oracle, shared by the rederiving AND the indexed
    * implementation (they must be indistinguishable in output). */
  private lazy val ingestVerdictsSql: String =
    s"""WITH pairs AS (${boundedJaccardSql}),
       |ex AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400),
       |inc AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400),
       |exact AS (SELECT doc_id FROM inc WHERE h IN (SELECT h FROM ex)),
       |near AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
       |         WHERE doc_a < 400 AND doc_b >= 400)
       |SELECT i.doc_id,
       |       e.doc_id IS NOT NULL AS exact_dup,
       |       n.doc_id IS NOT NULL AS near_dup,
       |       (e.doc_id IS NULL AND n.doc_id IS NULL) AS admit
       |FROM inc i LEFT JOIN exact e ON i.doc_id = e.doc_id
       |           LEFT JOIN near n ON i.doc_id = n.doc_id
       |ORDER BY i.doc_id""".stripMargin

  /** N-epoch ingest-loop oracle generator (mirror of
    * [[ingestEpochsLoopOn]], with NO notion of delta areas or
    * compaction — batching and fold timing must be invisible). Each
    * epoch gets its own complete bounded-Jaccard chain (nested WITH,
    * so the fixed CTE names don't collide) over that epoch's posting
    * universe: base docs < bounds(0) ∪ every earlier epoch's admits
    * ∪ the epoch's own docs — the grown index the engine queries
    * after its appends. Non-admitted earlier docs are absent from
    * later universes, exactly as they are absent from the index. */
  private def ingestEpochsSqlAt(bounds: Seq[Long]): String = {
    val base = bounds.head
    val n = bounds.length
    val blocks = (1 to n).map { i =>
      val lo = bounds(i - 1)
      val hiCond = if (i < n) s" AND doc_id < ${bounds(i)}" else ""
      val admOr = (1 until i)
        .map(j => s" OR doc_id IN (SELECT doc_id FROM adm$j)").mkString
      val u = s"(SELECT * FROM documents WHERE doc_id < $base " +
        s"OR (doc_id >= $lo$hiCond)$admOr)"
      // v/adm MATERIALIZED: epoch k's universe references every
      // earlier adm, and each adm closes over its own full Jaccard
      // chain — inlined, the chains re-expand once per reference and
      // the plan grows exponentially in the epoch count (measured:
      // the 4-epoch oracle never finished; materialized it's seconds)
      s"""p$i AS (${boundedJaccardSqlFrom(u)}),
         |ex$i AS (SELECT DISTINCT md5(text) AS h FROM documents
         |         WHERE doc_id < $base$admOr),
         |inc$i AS (SELECT doc_id, md5(text) AS h FROM documents
         |          WHERE doc_id >= $lo$hiCond),
         |near$i AS (SELECT DISTINCT doc_b AS doc_id FROM p$i
         |           WHERE doc_a < $lo AND doc_b >= $lo),
         |v$i AS MATERIALIZED (SELECT i.doc_id, $i AS epoch,
         |              i.h IN (SELECT h FROM ex$i) AS exact_dup,
         |              n.doc_id IS NOT NULL AS near_dup,
         |              (NOT i.h IN (SELECT h FROM ex$i)) AND n.doc_id IS NULL AS admit
         |       FROM inc$i i LEFT JOIN near$i n USING (doc_id)),
         |adm$i AS MATERIALIZED (SELECT doc_id FROM v$i WHERE admit)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to n).map(i => s"SELECT * FROM v$i").mkString(" UNION ALL ")
    s"""WITH $blocks
       |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, exact_dup, near_dup, admit
       |FROM ($sel)
       |ORDER BY doc_id""".stripMargin
  }

  /** The two-epoch instance, shared by the compacted, batched AND
    * streaming loop rows (their mechanics must be invisible). */
  private lazy val ingestEpochsSql: String = ingestEpochsSqlAt(Seq(400L, 450L))

  /** Exact full-universe word-3-gram Jaccard pairs at 0.5 — the oracle
    * for `dedup_minhash_lsh`. Deliberately written over RAW shingle
    * strings (list_intersect on string sets, no hashing, no posting
    * guard) so it checks the engine's hashed posting-count
    * verification from an independent formulation. */
  private lazy val exactJaccardSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
      |         i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS s
      |       FROM tok WHERE len(t) >= 3),
      |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |       CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) AS jac
      |FROM cand JOIN sh x ON doc_a = x.doc_id JOIN sh y ON doc_b = y.doc_id
      |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(list_distinct(x.s || y.s)) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin
}
