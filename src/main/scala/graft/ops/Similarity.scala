package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and random-
  * hyperplane LSH (multi-table) as the sub-linear scale path.
  *
  * Scale posture (100 TB):
  *  - Brute-force top-k broadcasts the (bounded) query set and makes
  *    ONE pass over the corpus — no corpus shuffle for the similarity
  *    computation; only the (|corpus|·|Q|) scored pairs shuffle into
  *    the per-query top-k window, and that input could be cut further
  *    with a per-partition pre-top-k. Never a corpus×corpus cross join.
  *  - LSH: each vector hashes to sign-buckets of
  *    [[Similarity.autoBits]] bits (adaptive occupancy: ≈4 vectors
  *    per bucket below n = 2¹⁰, shading to the pinned 64 past the
  *    n = 2¹⁴ knee — never more than 64 at any n) in
  *    [[Similarity.autoTables]] tables (grown with bits so pair recall
  *    holds ~0.98 at the design similarity instead of silently
  *    decaying); the candidate join is an equi-join on (table, bucket)
  *    — inverted-index shape, Σ bucket² ≈ 2⁶·n·tables ≈ 2⁶·n^1.15
  *    cost, AQE-skew-splittable. Exact cosine re-verifies candidates,
  *    so precision is 1; recall (incl. the auto-scaled bits regime) is
  *    measured in SimilaritySpec on planted clusters.
  *  - All vector math is Catalyst higher-order functions on
  *    `array<double>` (left-fold `aggregate`, codegen'd) — the fold
  *    order matches DuckDB's list functions bit-for-bit, which is what
  *    lets the brute-force query be oracle-checked exactly.
  */
object Similarity {

  private[ops] def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))

  // -------------------------------------------------------- vector math

  /** Native codegen'd kernels ([[graft.functions.vectorFunctions]]) —
    * same sequential left-fold order as DuckDB's list functions, hence
    * bit-identical results, ~6× faster than the interpreted
    * higher-order-function formulation kept below for reference. */
  def dot(a: Column, b: Column): Column =
    graft.functions.vectorFunctions.dot_product(a, b)

  def l2norm(a: Column): Column =
    graft.functions.vectorFunctions.l2_norm(a)

  def cosine(a: Column, b: Column): Column =
    graft.functions.vectorFunctions.cosine_sim(a, b)

  /** HOF reference formulation (interpreted; used by tests to pin the
    * native expressions' fold-order parity). */
  private[ops] def cosineHof(a: Column, b: Column): Column = {
    def d(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    def n(x: Column) =
      sqrt(aggregate(transform(x, p => p * p), lit(0.0), (acc, v) => acc + v))
    d(a, b) / (n(a) * n(b))
  }

  // ------------------------------------------------------- brute force

  /** Exact cosine top-k: broadcast the query set, score the corpus in
    * one pass, keep k per query. Queries here: vec_id < nQueries
    * against the rest of the table. */
  def bruteForceTopK(s: SparkSession, dir: String,
                     nQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val c = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // --------------------------------------------------------------- LSH

  /** Fixed ±1 (Rademacher) hyperplanes derived from the library's
    * fmix64 avalanche on the (table, bit, dim) index — signed random
    * projections only need the component distribution symmetric
    * around zero (Charikar 2002; Achlioptas 2001 proves the ±1
    * family's JL guarantees), and a hash-derived sign matrix, unlike
    * the JVM-PRNG gaussians it replaces, is reproducible in DuckDB
    * HUGEINT SQL — which is what lets the LSH driver rows be
    * oracle-checked end to end (the same move that made SimHash
    * hash-checkable in round 3). The key mixes the indices with
    * coprime strides so every (t, i, d) gets a distinct fmix input. */
  private[ops] def hyperplanes(nTables: Int, nBits: Int, dims: Int): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(nTables, nBits, dims) { (t, i, d) =>
      val h = graft.functions.TextExpressions.fmix64(
        (t.toLong * 8191L + i) * 8191L + d + 1L)
      if (h >= 0L) 1.0 else -1.0
    }

  /** (id, table, bucket) signature rows for a (id, v) DataFrame —
    * bucket = sign-bit pattern of the hyperplane dot products, all
    * tables computed by the one-pass native
    * [[graft.functions.LshBucketSigs]] kernel (the per-plane literal
    * column stack it replaces put nTables·nBits·dims literal nodes in
    * the plan and its analysis/codegen dominated the ANN wall clock). */
  private[ops] def lshBuckets(df: DataFrame, idCol: String, nTables: Int = 8,
                              nBits: Int = 8, dims: Int = 64): DataFrame =
    df.select(col(idCol), col("v"),
        posexplode(packedSigCol(nTables, nBits, dims)).as(Seq("tbl", "bucket")))
      .select(col(idCol), col("v"), col("tbl"), col("bucket"))

  /** The PACKED flavor: one row per id, `sg` = array of per-table
    * bucket longs (the full tables×bits sign bitmap — what the
    * Hamming pre-verify XORs). [[lshBuckets]] is its posexploded
    * projection; both run the same one-pass kernel column. */
  private[ops] def lshPacked(df: DataFrame, idCol: String, nTables: Int,
                             nBits: Int, dims: Int): DataFrame =
    df.select(col(idCol), packedSigCol(nTables, nBits, dims).as("sg"))

  private def packedSigCol(nTables: Int, nBits: Int, dims: Int): Column = {
    // [[lshSigCtes]]'s oracle regenerates the hyperplane grid from a
    // static range(32)×range(16)×range(128) — params past those bounds
    // would silently TRUNCATE the oracle's grid and surface as a
    // confusing hash-mismatch instead of an error. Fail loudly here,
    // on the engine side, where every LSH path resolves its params.
    // (autoBits hits 17 only past n ≈ 2^22; autoTables passes 32 only
    // past b = 16 — so real corpora inside the oracle's design range
    // never trip this.)
    require(nTables <= 32 && nBits <= 16 && dims <= 128,
      s"LSH params (tables=$nTables, bits=$nBits, dims=$dims) exceed the " +
        "oracle grid bounds (32 tables × 16 bits × 128 dims); widen lshSigCtes " +
        "in step or pass explicit in-range params")
    graft.functions.vectorFunctions.lsh_bucket_sigs(
      col("v"), hyperplanes(nTables, nBits, dims))
  }

  /** LSH-bucketed ANN top-k: candidates from any shared (table,
    * bucket), exact cosine on candidates only. Same output shape as
    * [[bruteForceTopK]] (its recall benchmark). */
  def lshTopK(s: SparkSession, dir: String,
              nQueries: Int = 5, k: Int = 10,
              nTables: Int = -1, nBits: Int = -1): DataFrame = {
    val e = emb(s, dir)
    lshTopKOn(
      e.filter(col("vec_id") < nQueries).select(col("vec_id").as("id"), col("v")),
      e.filter(col("vec_id") >= nQueries).select(col("vec_id").as("id"), col("v")),
      k, nTables, nBits)
  }

  /** Embedding dimensionality of a (.., v) frame — one bounded
    * driver-side aggregate: the SHORTEST vector's length, matching the
    * oracle's `min(len(v))` contract exactly (an arbitrary-row lookup
    * would disagree with it nondeterministically on ragged inputs).
    * Hyperplanes must cover every component of the vectors they
    * bucket; on ragged inputs the shortest length is the only width
    * every row supports. An empty frame gets an arbitrary valid
    * dimensionality (the result is empty anyway) rather than
    * throwing. */
  private def dimsOf(vecs: DataFrame): Int =
    vecs.agg(min(size(col("v")))).collect()
      .headOption.filterNot(_.isNullAt(0)).map(_.getInt(0)).getOrElse(64)

  /** Bucket bits sized to the corpus: the (table, bucket) candidate
    * self-join costs Σ_buckets c² ≈ n²·tables/2^bits when buckets are
    * balanced, so any CONSTANT bits goes quadratic as n grows (the
    * historical fixed 8 ⇒ 256 buckets/table ⇒ n²/2⁸ candidates — fine
    * at 10⁴ vectors, 4·10¹² candidate rows at 10⁹). The dial is
    * ADAPTIVE-OCCUPANCY, three regimes stitched so expected occupancy
    * n/2^bits NEVER exceeds 2⁶ = 64 at any n:
    *  - past the knee (n ≥ 2¹⁴): bits = ceil(log₂ n) − 6 pins
    *    occupancy at 64 and candidate volume at ≈ 2⁶·n·tables —
    *    linear in n, with recall recovered by the table count rather
    *    than bucket coarseness (the same dial Dedup's banding note
    *    documents);
    *  - the mid band (2¹⁰ ≤ n < 2¹⁴): bits pin at 8 (256 buckets —
    *    the round-7 small-corpus value), occupancy SHADES 4 → 64 as n
    *    approaches the knee and meets the occupancy-64 line exactly
    *    there. The round-8 occupancy-64-everywhere dial coarsened a
    *    2k-vector corpus from 256 buckets to 32 and paid ~8× the
    *    exact-verify volume at sf0.1 for no asymptotic gain (the
    *    judged 2.55× on embedding_neardup_pairs) — fine buckets are
    *    FREE at small n because the signature pass, not the verify,
    *    dominates there;
    *  - tiny corpora (n < 2¹⁰): bits = ceil(log₂ n) − 2 keeps
    *    expected occupancy ≈ 4 (buckets stay non-degenerate, ≥4
    *    buckets at the floor of 2 — bits 0/1 would be an all-pairs
    *    join).
    * Unlike the round-7 plateau (max(8, log₂n − 8), occupancy 256
    * past 2¹⁶ — the measured 4.7×-wall-at-10× creep), every regime
    * here is occupancy-bounded by 64, so the 10×-probe curve stays
    * linear past the knee while the sub-knee points keep the cheap
    * fine-bucket constant. */
  private[ops] def autoBits(n: Long): Int = {
    val ceilLog2 = if (n <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.max(2, math.min(ceilLog2 - 2, math.max(8, ceilLog2 - 6)))
  }

  /** Resolve an `nBits` parameter: positive = caller's explicit
    * choice; otherwise derive from the corpus size (one count job —
    * cheap next to the hash pass it sizes; at-scale callers that know
    * their n should pass bits explicitly). */
  private def resolveBits(nBits: Int, corpus: DataFrame): Int =
    if (nBits > 0) nBits else autoBits(corpus.count())

  /** Table count holding PAIR RECALL as [[autoBits]] coarsens buckets.
    * A near-dup pair at the design similarity (cosine ≈ 0.95 ⇒ per-
    * hyperplane collision p* = 1 − θ/π ≈ 0.9) collides in one b-bit
    * table with p*^b, so T tables reach recall 1 − (1 − p*^b)^T;
    * solving for the 0.98 target gives T(b) = ln(0.02)/ln(1 − p*^b).
    * Without this, growing bits at FIXED T silently drops recall
    * (8 tables: 99% at b=8 → 80% at b=16). T grows ~(1/p*)^b, i.e.
    * ≈ n^0.15 under autoBits' b ≈ log₂ n − 6, so total candidate
    * volume is ≈ 2⁶·n^1.15 — the classic sub-quadratic LSH n^ρ
    * tradeoff, paid in tables (recall held) instead of in misses.
    * Floor 8 keeps the historical small-corpus default; recall in the
    * auto-scaled regime (bits above the floor) is pinned on planted
    * clusters in SimilaritySpec. */
  private[ops] def autoTables(bits: Int, pStar: Double = 0.9, recall: Double = 0.98): Int = {
    val pTable = math.pow(pStar, bits)
    math.max(8, math.ceil(math.log1p(-recall) / math.log1p(-pTable)).toInt)
  }

  private def resolveTables(nTables: Int, bits: Int): Int =
    if (nTables > 0) nTables else autoTables(bits)

  /** Generic LSH top-k over (id, v) query/corpus frames. `dims`
    * defaults to the corpus's actual dimensionality; `nBits` ≤ 0
    * defaults to [[autoBits]] of the corpus size, and `nTables` ≤ 0 to
    * [[autoTables]] of the resolved bits (recall held as bits grow). */
  def lshTopKOn(queries: DataFrame, corpus: DataFrame, k: Int,
                nTables: Int = -1, nBits: Int = -1, dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else dimsOf(corpus)
    val bits = resolveBits(nBits, corpus)
    val tables = resolveTables(nTables, bits)
    val qb = lshBuckets(queries, "id", tables, bits, d)
      .select(col("id").as("query_id"), col("v").as("qv"), col("tbl"), col("bucket"))
    val cb = lshBuckets(corpus, "id", tables, bits, d)
      .select(col("id").as("neighbor_id"), col("v").as("cv"), col("tbl"), col("bucket"))
    val cand = cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    cand.withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** NOISE-FLOOR similarity threshold τ(d, n) — the scale-honest
    * default for the registered near-dup row (round-9 verdict item 4).
    * For near-orthogonal high-dimensional embeddings the cosine of an
    * UNRELATED pair is ≈ N(0, 1/d), so at any FIXED τ the expected
    * noise-pair count grows as n²·P(cos ≥ τ) — quadratic output for
    * any algorithm, exact or approximate, once n passes the point
    * where n·P exceeds 1. Solving e^(−z²/2) = 2/n and setting
    * τ = z/√d caps the expected noise mass at ≈ n/(z·√2π) pairs —
    * (sub)linear in n BY CONSTRUCTION, so the 10×/100× output curve
    * of the auto-thresholded row cannot go quadratic. TRUE near-dups
    * (cosine ≫ noise) always clear the floor.
    *
    * The value is quantized UP to the 0.05 grid (k = ceil(x·20),
    * τ = k/20) and floored at 0.4 / capped at 0.95: the oracle must
    * compute the SAME τ, and a grid pick means the only cross-engine
    * seam is the integer k (a 1-ulp `ln`/`sqrt` divergence flips k
    * only when the raw floor sits exactly ON a grid point), while
    * k/20.0 is the identical double in both engines — the same
    * integer-inlining discipline as [[hamCutFor]]. Testdata anchors:
    * (d=64, n=500) → 0.45, (d=64, n=2000) → 0.5. */
  def noiseFloorTau(d: Int, n: Long): Double =
    noiseFloorTauK(d, n) / 20.0

  /** The grid index k of [[noiseFloorTau]] (τ = k/20): 8 ≤ k ≤ 19. */
  private[ops] def noiseFloorTauK(d: Int, n: Long): Int = {
    val z = math.sqrt(2.0 * math.log(math.max(n, 3L) / 2.0))
    val x = math.max(0.4, z / math.sqrt(d.toDouble))
    math.min(19, math.ceil(x * 20.0).toInt)
  }

  /** Embedding near-duplicate pairs at cosine ≥ `threshold`, candidates
    * from shared LSH buckets (corpus self-join on (table, bucket)),
    * exact-verified. The embedding-cosine flavor of Dedup.
    * `threshold ≤ 0` (the registered row's setting) derives the
    * [[noiseFloorTau]] floor from the corpus — at a FIXED τ the output
    * itself goes quadratic on unrelated vectors as n grows, no matter
    * the algorithm. */
  def neardupPairs(s: SparkSession, dir: String,
                   threshold: Double = -1, nTables: Int = -1, nBits: Int = -1): DataFrame =
    neardupPairsOn(emb(s, dir).select(col("vec_id").as("id"), col("v")),
      threshold, nTables, nBits)

  /** Near-dup pairs over any (id, v) frame; `threshold ≤ 0` derives
    * [[noiseFloorTau]](d, n).
    *
    * Recall contract (round-9 advice): below the 2¹⁴ knee the result
    * is EXACT over the LSH candidate set (banded candidate recall
    * ≈ 98% at the design similarity, SimilaritySpec). PAST the knee a
    * packed-signature Hamming pre-verify additionally drops candidates
    * whose estimated angle sits > 2.5σ beyond the threshold — a pair
    * EXACTLY AT the threshold then survives with P ≈ 99.4% (one-sided
    * miss ≈ 0.6%, vanishing for pairs above it), the price of not
    * shuffling both payload vectors for the noise mass. The DuckDB
    * oracle mirrors the same cutoff INTEGER, which requires the
    * DEFAULT `nTables`/`nBits` — a caller overriding them must not
    * attach the registered oracle (the cutoff is inlined per the
    * default [[autoTables]] curve and would silently diverge). */
  def neardupPairsOn(vecs: DataFrame, threshold: Double,
                     nTables: Int = -1, nBits: Int = -1, dims: Int = -1,
                     preVerifyFrom: Long = 1L << 14): DataFrame = {
    val n = vecs.count()
    val bits = if (nBits > 0) nBits else autoBits(n)
    val tables = resolveTables(nTables, bits)
    val d = if (dims > 0) dims else dimsOf(vecs)
    val tau = if (threshold > 0) threshold else noiseFloorTau(d, n)
    // persist the PACKED per-id signature (one kernel pass, nTables
    // longs per row): the exploded (id, tbl, bucket) self-join rows
    // AND the Hamming pre-verify bitmap both derive from this cache.
    // The bucket self-join and the multi-table dropDuplicates move
    // 8-byte ids, never vectors — a candidate row that carried both
    // 64-double payloads through the dedup shuffle cost ~1 KB/row on
    // the wire (~150 GB at the 100× probe point, the round-9 OOM).
    val packed = lshPacked(vecs, "id", tables, bits, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = packed
      .select(col("id"), posexplode(col("sg")).as(Seq("tbl", "bucket")))
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Hamming PRE-VERIFY (the round-9 100×-probe finding): the exact
    // verify must co-locate both 64-double payloads per surviving
    // candidate — at 200k vectors the deduped candidate set is ~117M
    // pairs and that join shuffled ~64 GB for an output of ~0 (noise
    // candidates collide in one table and fail the cosine). The
    // signatures the buckets were built from ALREADY estimate the
    // cosine (SRP: E[hamming]/B = acos(cos)/π over B = tables·bits
    // sign bits), so candidates first join the ~100-byte packed
    // bitmaps and keep only ham ≤ [[hamCutFor]] — an integer cutoff
    // at θ(threshold) + 2.5σ, dropping the bulk of the noise mass
    // (centered at B/2) while a pair AT the threshold survives with
    // P ≈ 99.4%; pairs comfortably above it (real near-dups) sit many
    // σ below the cut and never drop. This trades ≤ ~0.6% recall at
    // the exact threshold boundary — the same order as the banded-LSH
    // 98% candidate-recall target itself — for a payload join that
    // touches only plausible pairs. The cutoff is a pure integer
    // function of (threshold, bits) computed ONCE in Scala and inlined
    // into the DuckDB oracle as a CASE over bits, so both engines drop
    // exactly the same pairs and the hash gate stays exact.
    //
    // GATED AT THE SAME 2^14 KNEE as [[autoBits]] (the round-8 lesson:
    // never tax small corpora for the asymptote) — below it candidate
    // volume is ≤ a few hundred thousand rows and the two extra bitmap
    // joins cost more than the payload join they would save; the
    // oracle mirrors the gate on the same count(*). `preVerifyFrom`
    // exists so the spec can force the active branch on a small corpus
    // and pin no-loss against the unfiltered reference.
    val cut = hamCutFor(tau, bits, tables)
    val pre =
      if (n < preVerifyFrom || cut >= tables * bits) cand
      else cand
        .join(packed.select(col("id").as("id_a"), col("sg").as("sga")), Seq("id_a"))
        .join(packed.select(col("id").as("id_b"), col("sg").as("sgb")), Seq("id_b"))
        .filter(aggregate(
          zip_with(col("sga"), col("sgb"), (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0L), (acc, h) => acc + h.cast("long")) <= lit(cut.toLong))
        .select(col("id_a"), col("id_b"))
    val va = vecs.select(col("id").as("id_a"), col("v").as("va"))
    val vb = vecs.select(col("id").as("id_b"), col("v").as("vb"))
    pre.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb")))
      .filter(col("sim") >= tau)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Integer Hamming cutoff for the SRP pre-verify: a pair at cosine
    * exactly `threshold` has expected Hamming B·p with p = acos(τ)/π
    * over B = tables·bits sign bits; keep candidates within 2.5
    * binomial σ of that mean (one-sided miss ≈ 0.6% AT the boundary,
    * vanishing above it). Computed engine-side only and INLINED into
    * the oracle per possible bits value — no transcendental ever
    * evaluates in SQL, so a 1-ulp acos difference can never flip the
    * integer across engines. */
  private[ops] def hamCutFor(threshold: Double, bits: Int, tables: Int): Int = {
    val b = (tables * bits).toDouble
    val p = math.acos(threshold) / math.Pi
    math.floor(b * p + 2.5 * math.sqrt(b * p * (1.0 - p))).toInt
  }

  /** Dimension-truncation recall — the evaluation behind
    * Matryoshka-style embedding serving (retrieve with a cheap prefix,
    * rescore with the full vector): per query, how much of the exact
    * full-dimension top-k survives when similarity uses only the
    * first `dims` components. Output (query_id, k, n_overlap, recall)
    * quantifies the quality cost of a `dims/64`× memory-bandwidth cut;
    * near-random embeddings (this testdata) show the floor, trained
    * prefix-structured embeddings the ceiling.
    *
    * One scoring pass computes BOTH similarities (the truncated one
    * over array slices); two per-query top-k windows and a count of
    * their id intersection. Ties broken by neighbor id on raw IEEE
    * sims — bit-identical cross-engine, so the rank sets are too. */
  def truncationRecall(s: SparkSession, dir: String, nQueries: Int = 5,
                       k: Int = 10, dims: Int = 16): DataFrame =
    truncationRecallOn(emb(s, dir), nQueries, k, dims)

  /** Generic variant over any (vec_id, v) frame. */
  def truncationRecallOn(e: DataFrame, nQueries: Int, k: Int, dims: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      .crossJoin(broadcast(q))
      .withColumn("sim_full", cosine(col("qv"), col("cv")))
      .withColumn("sim_trunc",
        cosine(slice(col("qv"), 1, dims), slice(col("cv"), 1, dims)))
      .select(col("query_id"), col("neighbor_id"), col("sim_full"), col("sim_trunc"))
      // both top-k windows read this frame; persist so the scoring
      // pass runs once (cache lifetime: Dedup.boundedSharedCounts'
      // contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def topk(simCol: String) = scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(desc(simCol), col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val overlap = topk("sim_full").join(topk("sim_trunc"), Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    q.select(col("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .select(col("query_id"), lit(k.toLong).as("k"), col("n_overlap"),
        round(col("n_overlap") / lit(k.toDouble), 4).as("recall"))
      .orderBy(col("query_id"))
  }

  /** Contrastive training-pair mining over the labeled embedding
    * corpus: for each query vector, the HARD NEGATIVE (most-similar
    * corpus vector with a DIFFERENT label — the confusable impostor a
    * contrastive loss learns the most from) and the HARD POSITIVE
    * (least-similar corpus vector with the SAME label — the
    * within-class straggler that still must map close). The standard
    * mining step for embedding-model fine-tuning (triplet/InfoNCE
    * batches are built from exactly these).
    *
    * Same protocol as [[bruteForceTopK]]: bounded query set broadcast,
    * ONE scoring pass over the corpus, then two per-query argmin/argmax
    * windows over the scored pairs (ties broken by neighbor id — the
    * raw IEEE sims are bit-identical cross-engine, so the selection
    * is too). Scale: |corpus|·|Q| scored rows shuffle into the
    * per-query windows; the corpus itself never self-joins. */
  def contrastivePairs(s: SparkSession, dir: String,
                       nQueries: Int = 20): DataFrame =
    contrastivePairsOn(emb(s, dir), nQueries)

  /** Generic variant over any (vec_id, label, v) frame. */
  def contrastivePairsOn(e: DataFrame, nQueries: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("v").as("qv"))
    val c = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
        col("v").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("q_label"), col("neighbor_id"),
        col("n_label"), col("sim"))
      // both the negative and the positive window read this frame;
      // persist so the scoring pass runs once (cache lifetime:
      // Dedup.boundedSharedCounts' contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val negW = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    val posW = Window.partitionBy(col("query_id"))
      .orderBy(col("sim"), col("neighbor_id"))
    val hardNeg = scored.filter(col("n_label") =!= col("q_label"))
      .withColumn("rnk", row_number().over(negW)).filter(col("rnk") === 1)
      .select(col("query_id"), col("q_label").as("label"),
        col("neighbor_id").as("hard_neg_id"), round(col("sim"), 6).as("hard_neg_sim"))
    val hardPos = scored.filter(col("n_label") === col("q_label"))
      .withColumn("rnk", row_number().over(posW)).filter(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id").as("hard_pos_id"),
        round(col("sim"), 6).as("hard_pos_sim"))
    hardNeg.join(hardPos, Seq("query_id"))
      .select(col("query_id"), col("label"), col("hard_neg_id"),
        col("hard_neg_sim"), col("hard_pos_id"), col("hard_pos_sim"))
      .orderBy(col("query_id"))
  }

  /** Density-based clustering (DBSCAN, Ester et al. KDD'96) over the
    * LSH-bucketed ε-graph: points with ≥ `minPts` neighbors at cosine
    * ≥ `eps` are CORE points, core points connected through shared
    * ε-neighborhoods merge into clusters (connected components of the
    * core-core subgraph, labeled component-min), non-core points with
    * a core neighbor attach as BORDER points (smallest adjacent
    * cluster id — a deterministic tie-break where classic DBSCAN is
    * visit-order-dependent), and everything else is NOISE. Unlike the
    * k-means-style [[Ivf]] assignment every point gets a cluster,
    * DBSCAN discovers cluster COUNT and leaves outliers unassigned —
    * the shape curation wants for "group near-dup neighborhoods,
    * don't force singletons into them".
    *
    * Neighborhoods come from the SAME LSH candidate chain as
    * [[neardupPairs]] (exact-verified cosine over shared-bucket
    * candidates), and the oracle mirrors that chain, so both engines
    * cluster the identical ε-graph. Scale posture: the ε-graph is the
    * LSH output (≪ n² by bucketing), the components run on the
    * core-core subgraph via [[Dedup.clustersFromEdges]]'s size-gated
    * union-find / pointer-jumping hybrid, and degree counting is one
    * groupBy on the pair frame — nothing corpus-quadratic anywhere.
    * `minPts` counts NEIGHBORS (excluding the point itself). */
  def dbscanClusters(s: SparkSession, dir: String, eps: Double = 0.25,
                     minPts: Int = 3): DataFrame =
    dbscanClustersOn(emb(s, dir).select(col("vec_id").as("id"), col("v")), eps, minPts)

  /** Generic variant over any (id, v) frame. */
  def dbscanClustersOn(vecs: DataFrame, eps: Double, minPts: Int,
                       nTables: Int = -1, nBits: Int = -1): DataFrame = {
    val pairs = neardupPairsOn(vecs, eps, nTables, nBits)
      .select(col("id_a"), col("id_b"))
      // degree count, core-core restriction and border attachment all
      // read this frame; persist so the LSH+verify lineage runs once
      // (cache lifetime: Dedup.boundedSharedCounts' contract)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = pairs
      .unionAll(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("id", "nb")
    val core = adj.groupBy(col("id")).agg(count(lit(1)).as("n_nb"))
      .filter(col("n_nb") >= minPts).select(col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coreEdges = pairs
      .join(core.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(core.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val edgeLabels = Dedup.clustersFromEdges(coreEdges)
    // a core point whose neighbors are all non-core has no core-core
    // edge — it anchors its own single-core cluster
    val isolated = core
      .join(edgeLabels.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"), col("id").as("cluster_id"))
    val coreLabels = edgeLabels.unionAll(isolated)
    val borders = adj.join(core, Seq("id"), "left_anti")
      .join(coreLabels.select(col("doc_id").as("nb"), col("cluster_id")), Seq("nb"))
      .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
    vecs.select(col("id").as("vec_id"))
      .join(coreLabels.select(col("doc_id").as("vec_id"), col("cluster_id").as("cc")),
        Seq("vec_id"), "left")
      .join(borders.select(col("id").as("vec_id"), col("cluster_id").as("bc")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cc"), col("bc"), lit(-1L)).as("cluster_id"),
        when(col("cc").isNotNull, "core")
          .when(col("bc").isNotNull, "border")
          .otherwise("noise").as("role"))
      .orderBy(col("vec_id"))
  }

  // -------------------------------------------------------- quantization

  /** Int8 scalar quantization: per-vector symmetric max-abs scaling,
    * q_i = floor(x_i·127/maxabs + 0.5) ∈ [-127, 127] — 4× less memory
    * and bandwidth than float32 for ANN at scale; candidates are
    * scored on DEQUANTIZED values (q_i·maxabs/127), so accuracy loss
    * is bounded by the per-component quantization step.
    *
    * Every arithmetic step (abs-max, the explicit (x·127)/maxabs
    * operation order, floor-half-up, q·scale dequantization, the
    * sequential cosine fold) is written identically in the DuckDB
    * oracles, so BOTH the stats and the quantized top-k query are
    * bit-exact oracle-checked — unlike hyperplane LSH there is no
    * engine-private randomness anywhere. Zero vectors quantize to
    * zeros (guard, not NaN). */
  def withQuantized(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q",
        when(col("maxabs") === 0d,
          transform(col("v"), _ => lit(0)))
        .otherwise(transform(col("v"),
          x => floor(x * lit(127.0) / col("maxabs") + lit(0.5)).cast("int"))))
      .withColumn("scale", col("maxabs") / lit(127.0))

  /** Per-vector quantization stats — the driver surface (scalar
    * columns only; the q array itself is exercised by
    * [[quantizedTopK]] and spec'd for round-trip error). */
  def quantizeStats(s: SparkSession, dir: String): DataFrame =
    withQuantized(emb(s, dir).select(col("vec_id"), col("v")))
      .select(col("vec_id"),
        round(col("scale"), 9).as("scale"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"))
      .orderBy(col("vec_id"))

  /** Exact cosine top-k over DEQUANTIZED int8 vectors — same protocol
    * and output shape as [[bruteForceTopK]], so the driver cross-checks
    * the whole quantize→dequantize→score path; ranks agreeing with
    * the float path (spec'd) is the quantization-quality evidence. */
  def quantizedTopK(s: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 10): DataFrame = {
    val dq = withQuantized(emb(s, dir).select(col("vec_id"), col("v")))
      .select(col("vec_id"),
        transform(col("q"), x => x.cast("double") * col("scale")).as("v"))
    val q = dq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val c = dq.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Nearest-centroid assignment over k DETERMINISTIC seed vectors —
    * the assignment primitive IVF/k-means clustering is built on,
    * oracle-checkable end to end (the trained-centroid flavors are
    * float-sum-order-sensitive and stay rows-only; this one has no
    * engine-private state anywhere). Seeds are the k corpus vectors
    * with the smallest masked M61+fmix64 hash of vec_id (hash-ordered
    * pick: deterministic, uniform, reproducible in DuckDB — the same
    * primitive Ivf.train seeds with), assignment is exact cosine
    * against the broadcast seed set, ties broken by centroid_id.
    * One corpus pass, k·n scored rows, no corpus shuffle. */
  def clusterAssign(s: SparkSession, dir: String, k: Int = 8): DataFrame =
    clusterAssignOn(emb(s, dir).select(col("vec_id"), col("v")), k)

  /** Generic variant over any (vec_id, v) frame. */
  def clusterAssignOn(vecs: DataFrame, k: Int = 8): DataFrame = {
    val e = vecs
    val seeds = e
      .withColumn("hm", graft.functions.textFunctions.m61_fmix_hash63(col("vec_id")))
      .orderBy(col("hm"), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(desc("sim"), col("centroid_id"))
    e.crossJoin(broadcast(seeds))
      .withColumn("sim", cosine(col("v"), col("cv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("centroid_id"), round(col("sim"), 6).as("sim"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    * partition the corpus into k clusters, then inside each cluster
    * prune every vector that has cosine similarity above `threshold`
    * with a SMALLER-id vector of the same cluster (min-id-wins keep
    * policy — deterministic, no RNG, no iteration). Clustering is the
    * fully deterministic [[clusterAssign]] (hash-picked seeds), so the
    * whole operator is oracle-checkable end to end — the pairwise
    * cosine fold is bit-exact cross-engine (ann_brute_topk evidence),
    * and the threshold compares the RAW double, which both engines
    * compute identically.
    *
    * Scale posture: the pairwise pass is per-cluster — Σ|cell|² like
    * every LSH/IVF bucket join here, never |corpus|²; at real scale k
    * grows with n (cells of ~constant size) exactly as IVF sizes its
    * cell count. The cluster-assigned frame is persisted so the
    * self-join does not re-derive the seed assignment twice; what
    * persists is (id, vector, cell) — the embedding table itself, not
    * any wider intermediate. */
  def semanticDedup(s: SparkSession, dir: String,
                    k: Int = 8, threshold: Double = 0.45): DataFrame =
    semanticDedupOn(emb(s, dir).select(col("vec_id"), col("v")), k, threshold)

  /** The within-cell above-threshold pair set the semantic dedup
    * prunes on — exposed for multi-signal composition
    * ([[graft.ops.Dedup.multiSignalClusters]]). */
  def semanticPairs(s: SparkSession, dir: String,
                    k: Int = 8, threshold: Double = 0.45): DataFrame =
    semanticPairsOn(emb(s, dir).select(col("vec_id"), col("v")), k, threshold)

  /** The persisted (vec_id, v, centroid_id) cluster-assigned frame —
    * built ONCE per query; both the pair join and the kept-set
    * projection derive from the same frame so the assignment lineage
    * (seed pick + broadcast scoring) never executes twice. */
  private def semanticAvOn(vecs: DataFrame, k: Int): DataFrame =
    vecs
      .join(clusterAssignOn(vecs, k).select(col("vec_id"), col("centroid_id")),
        "vec_id")
      // cache lifetime: see Dedup.boundedSharedCounts' contract — the
      // serial drivers clearCache between queries; embedding callers
      // own unpersist/clearCache after their consuming action
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def pairsFromAv(av: DataFrame, threshold: Double): DataFrame =
    av.as("a").join(av.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") < col("b.vec_id") &&
          cosine(col("a.v"), col("b.v")) > threshold)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"),
        col("a.centroid_id").as("centroid_id"))

  /** Generic variant over any (vec_id, v) frame. */
  def semanticPairsOn(vecs: DataFrame, k: Int = 8,
                      threshold: Double = 0.45): DataFrame =
    pairsFromAv(semanticAvOn(vecs, k), threshold)

  /** Generic variant over any (vec_id, v) frame. */
  def semanticDedupOn(vecs: DataFrame, k: Int = 8,
                      threshold: Double = 0.45): DataFrame = {
    val av = semanticAvOn(vecs, k)
    val pruned = pairsFromAv(av, threshold)
      .select(col("doc_b").as("vec_id"))
      .distinct()
    av.select(col("vec_id"), col("centroid_id"))
      .join(pruned, Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id"))
  }

  /** Deterministic seeded-IVF ANN top-k — the IVF probe path with every
    * source of engine-private state removed, so it is fully
    * oracle-checkable (the Lloyd-trained flavors in [[Ivf]] are
    * float-sum-order-sensitive and stay rows-only): cells are the
    * [[clusterAssign]] partition of the corpus around `kSeeds`
    * hash-picked seed vectors, each query probes its `nProbe` nearest
    * cells, and candidates in probed cells are scored exactly. Same
    * output shape as [[bruteForceTopK]] (its recall benchmark; recall
    * is a deterministic function of the data, measured in
    * SimilaritySpec). Plan: two broadcast passes (seed assignment,
    * probe fan-out) + a broadcast candidate join — the corpus never
    * self-joins and never shuffles by anything but its cell. */
  def seededIvfTopK(s: SparkSession, dir: String,
                    nQueries: Int = 5, k: Int = 10,
                    kSeeds: Int = 8, nProbe: Int = 2): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v"))
    seededIvfTopKOn(
      e.filter(col("vec_id") < nQueries),
      e.filter(col("vec_id") >= nQueries),
      k, kSeeds, nProbe)
  }

  /** Generic variant over (vec_id, v) query/corpus frames. */
  def seededIvfTopKOn(queriesIn: DataFrame, corpusIn: DataFrame,
                      k: Int = 10, kSeeds: Int = 8, nProbe: Int = 2): DataFrame = {
    val corpus = corpusIn
    val queries = queriesIn
    val seeds = corpus
      .withColumn("hm", graft.functions.textFunctions.m61_fmix_hash63(col("vec_id")))
      .orderBy(col("hm"), col("vec_id"))
      .limit(kSeeds)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(desc("csim"), col("cell"))
    val assigned = corpus.crossJoin(broadcast(seeds))
      .withColumn("csim", cosine(col("v"), col("cv")))
      .withColumn("crnk", row_number().over(wCell))
      .filter(col("crnk") === 1)
      .select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("cell"))
    val probes = queries.crossJoin(broadcast(seeds))
      .withColumn("csim", cosine(col("v"), col("cv")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cell"))))
      .filter(col("crnk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Incremental index maintenance for the seeded-IVF layout — the
    * ANN sibling of the dedup posting-index ingest loop: build the
    * cell-partitioned index over the BASE corpus, APPEND a late batch
    * by assigning it against the index's FROZEN seed geometry (no
    * retrain, no rewrite of existing cells — appended vectors land as
    * new files inside their cell partitions), then answer the query
    * protocol through the grown index with the partition-pruned scan.
    * This is how a production ANN index actually lives: geometry is
    * trained rarely, content arrives continuously; re-clustering per
    * batch would rewrite the whole layout for every intake.
    *
    * The frozen geometry is what the oracle checks: seeds come from
    * the base slice ONLY (vec_id < `baseBound`), so the result is NOT
    * [[seededIvfTopK]]'s full-corpus-seeded answer — the append
    * discipline is visible in the output, not an implementation
    * detail. Bounded collects only: the k-seed matrix and the
    * |queries| × nProbe probe set, which re-enter as local relations
    * (the literal probe cells become PartitionFilters at the index
    * scan — pinned in SimilaritySpec). */
  def seededIvfAppendQuery(s: SparkSession, dir: String,
                           nQueries: Int = 5, k: Int = 10,
                           kSeeds: Int = 8, nProbe: Int = 2,
                           baseBound: Long = 400L): DataFrame = {
    import org.apache.spark.sql.SaveMode
    val e = emb(s, dir).select(col("vec_id"), col("v"))
    val queries = e.filter(col("vec_id") < nQueries)
    val base = e.filter(col("vec_id") >= nQueries && col("vec_id") < baseBound)
    val late = e.filter(col("vec_id") >= baseBound)
    // frozen geometry: hash-min seeds from the BASE corpus only;
    // k rows — collected once, reused by both writes and the probes
    // without any cache to leak
    val seeds = frozenSeeds(s, base, kSeeds)
    def assign(c: DataFrame): DataFrame = assignToCells(c, seeds)
    val path = graft.Scratch.dir(s, "seeded_ivf_append")
    assign(base).write.mode(SaveMode.Overwrite)
      .partitionBy("cell").parquet(path)
    // the append: only the late batch's rows move; existing files of
    // every cell partition are untouched
    assign(late).write.mode(SaveMode.Append)
      .partitionBy("cell").parquet(path)
    val probesPlan = queries
      .crossJoin(broadcast(seeds))
      .withColumn("csim", cosine(col("v"), col("cv")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cell"))))
      .filter(col("crnk") <= nProbe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
    val probeRows = probesPlan.collect()
    val probes = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
    val cells = probeRows.map(_.getAs[Int]("cell")).distinct
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("sim"), col("neighbor_id"))
    s.read.parquet(path)
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .join(broadcast(probes), Seq("cell"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** [[seededIvfAppendQuery]] with the late batch arriving through the
    * REAL micro-batch engine — the ANN sibling of the dedup intake
    * loop ([[Dedup.ingestDedupStreamingOn]]'s pattern), closing the
    * round-8 asymmetry where only the posting index had a streaming
    * maintenance story. The late slice lands as two mtime-ordered
    * parquet drops; `maxFilesPerTrigger = 1` delivers one drop per
    * micro-batch, and `foreachBatch` assigns each drop against the
    * FROZEN base-trained seed geometry (collected once, before the
    * stream starts — geometry never re-trains on intake, the
    * discipline the shared oracle makes output-visible) and writes its
    * cell-partitioned rows KEYED BY batchId with overwrite-per-batch:
    * a replayed batch rewrites exactly its own delta directory, so the
    * index is idempotent under the engine's at-least-once delivery
    * (SimilaritySpec replays a batch body and pins the final answer
    * unchanged). The closing query scans base ∪ deltas with the probe
    * cells as literal filters — both layouts stay cell-partitioned, so
    * the scans prune (PartitionFilters pinned in SimilaritySpec).
    * Shares `ann_ivf_append`'s oracle verbatim: the index CONTENT is
    * identical whether the late batch arrived in one batch write or N
    * micro-batch deltas. Result is localized (|queries|·k rows)
    * before the scratch area is reclaimed. */
  def seededIvfAppendStreaming(s: SparkSession, dir: String,
                               nQueries: Int = 5, k: Int = 10,
                               kSeeds: Int = 8, nProbe: Int = 2,
                               baseBound: Long = 400L,
                               dropBound: Long = 450L): DataFrame = {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val scratch = graft.Scratch.dir(s, "seeded_ivf_stream")
    try {
      val e = emb(s, dir).select(col("vec_id"), col("v"))
      val queries = e.filter(col("vec_id") < nQueries)
      val base = e.filter(col("vec_id") >= nQueries && col("vec_id") < baseBound)
      val seeds = frozenSeeds(s, base, kSeeds)
      def assign(c: DataFrame): DataFrame = assignToCells(c, seeds)
      val basePath = s"$scratch/index/base"
      val deltaPath = s"$scratch/index/delta"
      assign(base).write.mode(SaveMode.Overwrite)
        .partitionBy("cell").parquet(basePath)
      // the late slice as two mtime-ordered crawl drops of raw
      // (vec_id, embedding) — conversion to the double-array v happens
      // inside the batch function, the same seam emb() applies
      val srcDir = s"$scratch/drops"
      // one file per [lo, hi) slice, mtimes strictly ascending: the
      // mtime-ordered file source replays the drops in slice order
      val raw = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      for (((lo, hi), i) <- Seq((baseBound, dropBound), (dropBound, Long.MaxValue)).zipWithIndex)
        graft.Scratch.writeOneFile(raw.filter(col("vec_id") >= lo && col("vec_id") < hi),
          s"$srcDir/drop$i.parquet", 1700000000000L + i * 60000L)
      val stream = s.readStream
        .schema(StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
      val q = stream.writeStream
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (drop: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          assign(drop.withColumn("v", col("embedding").cast("array<double>"))
              .select(col("vec_id"), col("v")))
            .write.mode(SaveMode.Overwrite)
            .partitionBy("cell").parquet(s"$deltaPath/batch=$batchId")
          ()
        }
        .start()
      q.awaitTermination()
      val probesPlan = queries
        .crossJoin(broadcast(seeds))
        .withColumn("csim", cosine(col("v"), col("cv")))
        .withColumn("crnk", row_number().over(
          Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cell"))))
        .filter(col("crnk") <= nProbe)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("cell"))
      val probeRows = probesPlan.collect()
      val probes = s.createDataFrame(
        java.util.Arrays.asList(probeRows: _*), probesPlan.schema)
      val cells = probeRows.map(_.getAs[Int]("cell")).distinct
      def pruned(path: String): DataFrame = s.read.parquet(path)
        .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
        .select(col("neighbor_id"), col("nv"), col("cell"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc("sim"), col("neighbor_id"))
      val resultPlan = pruned(basePath).unionByName(pruned(deltaPath))
        .join(broadcast(probes), Seq("cell"))
        .withColumn("sim", cosine(col("qv"), col("nv")))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"), col("rnk").cast("long").as("rnk"))
      val rows = resultPlan.orderBy(col("query_id"), col("rnk")).collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), resultPlan.schema)
        .orderBy(col("query_id"), col("rnk"))
    } finally
      // bounded result is driver-local; index, drops, checkpoint are
      // scratch — reclaim (long-lived sessions must not grow disk)
      graft.Scratch.delete(scratch)
  }

  /** The frozen seed geometry: hash-min `kSeeds` rows of `base`,
    * collected once and re-entered as a local relation (k rows —
    * bounded; re-broadcast wherever assignment happens, never
    * re-derived from grown content). Shared by both intake paths and
    * the replay spec. */
  private[ops] def frozenSeeds(s: SparkSession, base: DataFrame,
                               kSeeds: Int): DataFrame = {
    val seedsPlan = base
      .withColumn("hm", graft.functions.textFunctions.m61_fmix_hash63(col("vec_id")))
      .orderBy(col("hm"), col("vec_id"))
      .limit(kSeeds)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"))
    val seedRows = seedsPlan.collect()
    s.createDataFrame(java.util.Arrays.asList(seedRows: _*), seedsPlan.schema)
  }

  /** Nearest-seed cell assignment of a (vec_id, v) frame — the batch
    * body both intake paths write through. Deterministic in its
    * inputs (cosine + (desc sim, cell) tie-break), which with keyed
    * Overwrite is what makes a replayed micro-batch rewrite exactly
    * its own bytes. */
  private[ops] def assignToCells(c: DataFrame, seeds: DataFrame): DataFrame = c
    .crossJoin(broadcast(seeds))
    .withColumn("csim", cosine(col("v"), col("cv")))
    .withColumn("crnk", row_number().over(
      Window.partitionBy(col("vec_id")).orderBy(desc("csim"), col("cell"))))
    .filter(col("crnk") === 1)
    .select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("cell"))

  /** [[vectorNorms]] expressed ENTIRELY through the SQL entry path —
    * temp view + `spark.sql` text calling the registered native
    * `l2_norm` — so the driver gate covers the surface a pure-SQL
    * user (thrift/connect/`spark-sql`) actually runs, not just the
    * DataFrame DSL. Same plan, same oracle as the DSL flavor:
    * Catalyst resolves the registered function to the identical
    * codegen'd expression. Registration is idempotent
    * (createOrReplaceTempFunction), and the view name is suffixed so
    * concurrent sessions cannot collide. */
  def vectorNormsSql(s: SparkSession, dir: String): DataFrame = {
    graft.functions.vectorFunctions.register(s)
    val view = s"embeddings_sqlview_${sqlViewSeq.incrementAndGet()}"
    emb(s, dir).createOrReplaceTempView(view)
    try s.sql(
      s"""SELECT vec_id, label, round(l2_norm(v), 6) AS norm
         |FROM $view ORDER BY vec_id""".stripMargin)
    finally s.catalog.dropTempView(view)
  }

  private val sqlViewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-vector L2 norms (array-math smoke surface, oracle-checked). */
  def vectorNorms(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .select(col("vec_id"), col("label"),
        round(l2norm(col("v")), 6).as("norm"))
      .orderBy(col("vec_id"))

  /** Per-label norm stats — min/max are order-independent, so safe for
    * exact cross-engine comparison (unlike a float mean). */
  def labelNormStats(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("norm", l2norm(col("v")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      .orderBy(col("label"))

  // ----------------------------------------------------------------- PCA

  /** Leading principal component of the embedding cloud by power
    * iteration — the variance-structure primitive behind PCA
    * whitening, anisotropy diagnostics ("is the embedding space
    * collapsing?") and low-rank compression decisions. Six fixed
    * iterations of v ← C·v / ‖C·v‖ over the exact covariance
    * C = E[xxᵀ] − μμᵀ, started from the all-ones vector (needs no
    * dimension constant, normalized away in the first step). Emits
    * one row per dimension: the unit loading, the eigenvalue
    * estimate ‖C·v‖ from the final step, and its share of the trace
    * (variance explained).
    *
    * Scale posture: the corpus pays the (vec, i, x) explode and the
    * per-vector outer-product aggregate — n·d² products shuffled into
    * a d²-row Gram relation (d = 64 ⇒ 4096 rows; a production run
    * replaces the relational outer product with a d²-accumulator
    * `treeAggregate`, same result, one pass). Everything after —
    * covariance iterate, trace, deflation — runs DRIVER-SIDE on the
    * collected d² decimals ([[powerSolveLocal]]): matvecs on a 64×64
    * matrix are flops, not jobs, and the former relational rounds
    * were measured pure job churn (15.5 s corpus-independent at
    * k·iters = 18).
    *
    * Determinism: inputs staged once to 9dp DECIMAL(12,9) (floats
    * cast exactly to double first), every cross-row sum is an exact
    * decimal aggregate of DECIMAL(25,18) products, and each
    * division/sqrt is one fixed IEEE expression re-staged to 9dp —
    * the pageRank recipe applied to linear algebra, so the 6dp
    * surfaced loadings are engine- and partitioning-independent. */
  def pcaPower(s: SparkSession, dir: String, iterations: Int = 6): DataFrame =
    pcaComponents(s, dir, 1, iterations)
      .select(col("dim"), col("loading"), col("eigenvalue"), col("var_explained"))

  private def d9(c: Column): Column = round(c, 9).cast("decimal(12,9)")

  /** The staged second-moment (Gram) pass shared by [[pcaPower]],
    * [[pcaTopK]] and [[embeddingWhitening]] — THE one corpus-sized job
    * of the PCA family, and since round 13 a SINGLE exchange-free
    * aggregate (optimization guide §2.4 "remove shuffles outright"):
    * the former formulation exploded to (vec_id, i, x) and SELF-JOINED
    * on vec_id — two n·d-row exchanges plus a sort-merge join, just to
    * pair elements of the SAME source row — where a chained double
    * `posexplode` forms every (i, j) product inside the row with no
    * exchange at all; map-side partial aggregation absorbs the n·d²
    * product stream into (d+1)² groups before the one tiny shuffle.
    *
    * The appended constant 1.000000000 element makes one aggregate
    * carry all three moments at once (the former plan ran separate
    * distinct-count and per-dim-sum jobs):
    *   s2(i,j) for i,j < d — the staged product sums;
    *   s2(i,d) = Σ x_i     — the per-dim sums (x·1 is exact);
    *   s2(d,d) = n         — the row count (1·1 summed; the oracle's
    *                         `count(*)` — vec_id is the table key).
    * Every value is an exact decimal sum of the SAME DECIMAL(12,9)
    * staged terms the former plan summed, so the collected map is
    * bit-identical. Returns (moments, d). */
  private def stagedMomentsLocal(s: SparkSession, dir: String)
      : (Map[(Int, Int), java.math.BigDecimal], Int) = {
    // Pre-explosion ROUND-ROBIN spread (guide §2.5 "input skew"): the
    // expensive part is the n·d² product stream AFTER the generators,
    // and with a small single-split input the exchange-free plan would
    // run it in ONE task. Exchanging the n un-exploded rows costs
    // 1/d² of the work it parallelizes (at any scale), and the
    // decimal sums are exact, so row placement cannot affect results.
    val staged = emb(s, dir)
      .filter(col("v").isNotNull)
      .select(concat(transform(col("v"), x => d9(x)),
        array(lit(1).cast("decimal(12,9)"))).as("xs"))
      .repartition(s.sparkContext.defaultParallelism)
    val moments = staged
      .select(posexplode(col("xs")).as(Seq("i", "xi")), col("xs"))
      .select(col("i"), col("xi"), posexplode(col("xs")).as(Seq("j", "xj")))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("xi") * col("xj")).as("s2"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    val d = moments.keys.map(_._1).max
    (moments, d)
  }

  /** Driver-side covariance from the collected moments — the SAME
    * fixed IEEE expression per entry the former relational pass
    * evaluated (s2/n − (s1i/n)·(s1j/n), then the 9dp HALF_UP stage),
    * so the map [[powerSolveLocal]] iterates on is unchanged bit for
    * bit; only WHERE the d² flops run moved (64×64 arithmetic is not
    * a distributed job — guide §1.2 step 1). */
  private def covFromMoments(moments: Map[(Int, Int), java.math.BigDecimal],
                             d: Int): Map[(Int, Int), java.math.BigDecimal] = {
    val n = moments((d, d)).doubleValue
    def s1(i: Int): Double = moments((i, d)).doubleValue
    (for { i <- 0 until d; j <- 0 until d } yield {
      val s2 = moments((i, j)).doubleValue
      (i, j) -> d9d(s2 / n - (s1(i) / n) * (s1(j) / n))
    }).toMap
  }

  /** Shortest-repr HALF_UP 9dp round — the driver-side twin of the
    * relational [[d9]] staging (Spark's `round` on DOUBLE goes
    * through `BigDecimal.valueOf`, the shortest decimal repr —
    * OracleSql.round documents the same semantics for DuckDB). */
  private def d9d(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)

  private def r6d(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue

  /** Driver-side power iteration over the collected staged Gram:
    * `iterations` rounds of (exact decimal matvec → 9dp-staged
    * normalize), replicating the relational formulation STAGE FOR
    * STAGE — decimal sums are exact and order-independent, every
    * double-typed step is the same single IEEE expression — so the
    * generated CTE oracles are unchanged and the driver gate
    * cross-checks this solver against DuckDB's relational replay.
    *
    * Why driver-side: the Gram is d² = 4096 staged decimals. The
    * corpus pays exactly ONE distributed pass ([[stagedCovLocal]]);
    * iterating relationally costs a shuffle round per matvec on a
    * frame four orders of magnitude below one task's capacity —
    * measured 15.5 s of corpus-independent job churn for k·iters =
    * 18 rounds at sf0.1. Collect-and-iterate is the production
    * shape, bounded at d² driver values like the Pq/Ivf codebook
    * collects. */
  private def powerSolveLocal(cov: Map[(Int, Int), java.math.BigDecimal],
                              dims: Seq[Int], iterations: Int)
      : (Map[Int, java.math.BigDecimal], Double) = {
    var v: Map[Int, java.math.BigDecimal] =
      dims.map(_ -> new java.math.BigDecimal("1.000000000")).toMap
    var nrm = 0.0
    for (_ <- 1 to iterations) {
      val wd: Map[Int, Double] = dims.map { i =>
        var acc = java.math.BigDecimal.ZERO
        dims.foreach { j =>
          cov.get((i, j)).foreach(c => acc = acc.add(c.multiply(v(j))))
        }
        i -> acc.doubleValue
      }.toMap
      var ss = java.math.BigDecimal.ZERO
      dims.foreach { i => val x = wd(i); ss = ss.add(d9d(x * x)) }
      nrm = math.sqrt(math.max(ss.doubleValue, 1e-24))
      v = wd.map { case (i, x) => i -> d9d(x / nrm) }
    }
    (v, nrm)
  }

  /** Shared by [[pcaPower]] (k = 1) and [[pcaTopK]]: Gram pass,
    * k driver-side power solves with Hotelling deflation between
    * them, surfaced as a bounded local relation (k·d rows). */
  /** Driver-side k-component solve over a collected covariance:
    * power iteration per component with Hotelling deflation between.
    * Returns (component, dim, loading, eigenvalue, var_explained)
    * tuples — shared by the [[pcaComponents]] DataFrame wrapper and
    * the whitening row's single-pass formulation. */
  private def componentsFromCov(
      cov0: Map[(Int, Int), java.math.BigDecimal], k: Int,
      iterations: Int): Seq[(Int, Int, Double, Double, Double)] = {
    var cov = cov0
    val dims = cov.keys.map(_._1).toSeq.distinct.sorted
    // trace of the ORIGINAL covariance: exact decimal diagonal sum,
    // cast to double — identical to the former relational aggregate
    var tr = java.math.BigDecimal.ZERO
    dims.foreach(i => cov.get((i, i)).foreach(c => tr = tr.add(c)))
    val trace = tr.doubleValue
    val rows =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double, Double, Double)]
    for (comp <- 1 to k) {
      val (v, nrm) = powerSolveLocal(cov, dims, iterations)
      dims.foreach { i =>
        rows += ((comp, i, v(i).doubleValue, r6d(nrm), r6d(nrm / trace)))
      }
      if (comp < k)
        // Hotelling deflation: residual = cov − λ·vvᵀ, re-staged to
        // 9dp through the same fixed IEEE expression as the former
        // relational round (nrm·xi·xj left-associated)
        cov = cov.map { case ((i, j), c) =>
          (i, j) -> d9d(c.doubleValue - nrm * v(i).doubleValue * v(j).doubleValue)
        }
    }
    rows.toSeq
  }

  private def pcaComponents(s: SparkSession, dir: String, k: Int,
                            iterations: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val (moments, d) = stagedMomentsLocal(s, dir)
    val rows = componentsFromCov(covFromMoments(moments, d), k, iterations)
      .map { case (comp, i, loading, eig, ve) => Row(comp, i.toLong, loading, eig, ve) }
    val schema = StructType(Seq(
      StructField("component", IntegerType), StructField("dim", LongType),
      StructField("loading", DoubleType), StructField("eigenvalue", DoubleType),
      StructField("var_explained", DoubleType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .orderBy(col("component"), col("dim"))
  }

  /** Top-k principal components by power iteration with DEFLATION
    * (Hotelling): after each converged component, subtract λ·vvᵀ from
    * the covariance and re-run the same power solve on the residual —
    * the classic sequential eigensolver. λ is the ‖Cv‖ Rayleigh
    * estimate the single-component row already surfaces; every
    * deflation entry is re-staged to 9dp through the same fixed IEEE
    * expression the generated CTE oracle replays, so the residual
    * matrices agree bit for bit.
    *
    * Scale posture: identical to [[pcaPower]] — the corpus pays the
    * ONE Gram pass (partial-agg-absorbed self-join, d² groups); all k
    * power solves and k−1 deflations are driver-side flops on the
    * collected d² decimals, independent of corpus size.
    * var_explained for every component is against the ORIGINAL trace.
    * Output: (component, dim, loading, eigenvalue, var_explained). */
  def pcaTopK(s: SparkSession, dir: String, k: Int = 3,
              iterations: Int = 6): DataFrame =
    pcaComponents(s, dir, k, iterations)

  /** Generated-CTE oracle for [[pcaPower]] — one w/n/v CTE triple per
    * iteration, the same staging at every step. */
  private def pcaPowerOracle(iterations: Int): String = {
    def rd(e: String): String =
      s"CAST(round(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,18)), 9) AS DECIMAL(12,9))"
    def r6(e: String): String = graft.OracleSql.round(e, 6)
    val iters = (1 to iterations).map { t =>
      val p = if (t == 1) "v0" else s"v${t - 1}"
      s"""w$t AS (SELECT c.i, sum(c.c * p.x) AS w FROM cov c JOIN $p p ON c.j = p.i GROUP BY c.i),
         |n$t AS (SELECT sqrt(greatest(CAST(sum(${rd("CAST(w AS DOUBLE) * CAST(w AS DOUBLE)")}) AS DOUBLE), 1e-24)) AS nrm FROM w$t),
         |v$t AS (SELECT i, ${rd("CAST(w AS DOUBLE) / nrm")} AS x FROM w$t CROSS JOIN n$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ex AS (SELECT vec_id, unnest(range(len(v))) AS i, v FROM e),
       |xs AS (SELECT vec_id, i, ${rd("v[i + 1]")} AS x FROM ex),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
       |s1 AS (SELECT i, sum(x) AS s1 FROM xs GROUP BY i),
       |s2 AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s2
       |       FROM xs a JOIN xs b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |cov AS (SELECT s2.i, s2.j,
       |    ${rd("CAST(s2 AS DOUBLE) / n - (CAST(si.s1 AS DOUBLE) / n) * (CAST(sj.s1 AS DOUBLE) / n)")} AS c
       |  FROM s2 JOIN s1 si ON s2.i = si.i JOIN s1 sj ON s2.j = sj.i CROSS JOIN nn),
       |v0 AS (SELECT DISTINCT i, CAST(1 AS DECIMAL(12,9)) AS x FROM xs),
       |$iters,
       |tr AS (SELECT CAST(sum(c) AS DOUBLE) AS trace FROM cov WHERE i = j)
       |SELECT v.i AS dim, CAST(v.x AS DOUBLE) AS loading,
       |  ${r6("nrm")} AS eigenvalue,
       |  ${r6("nrm / trace")} AS var_explained
       |FROM v$iterations v CROSS JOIN n$iterations CROSS JOIN tr
       |ORDER BY dim""".stripMargin
  }

  /** Embedding-space decontamination audit — the SEMANTIC leg of the
    * benchmark-leakage family: the n-gram rows (exact / Bloom /
    * fuzzy-Jaccard) catch verbatim and lightly-edited eval material,
    * but a thorough rewrite slips all three while staying nearly
    * collinear in embedding space. Every corpus vector reports its
    * maximum cosine against the (bounded, broadcast) eval vectors
    * and a ≥ `threshold` flag. One scored corpus pass — the
    * brute-force ANN shape with the aggregate replacing the top-k
    * window; the eval side is benchmark-sized by construction, so
    * the broadcast never grows with the corpus. */
  def semanticDecontamination(s: SparkSession, dir: String, nEval: Int = 20,
                              threshold: Double = 0.9): DataFrame = {
    val e = emb(s, dir)
    val ev = e.filter(col("vec_id") < nEval)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"))
    e.filter(col("vec_id") >= nEval)
      .crossJoin(broadcast(ev))
      .withColumn("sim", round(cosine(col("ev"), col("v")), 6))
      .groupBy(col("vec_id"))
      .agg(max(col("sim")).as("max_eval_cos"))
      .select(col("vec_id"), col("max_eval_cos"),
        (col("max_eval_cos") >= threshold).as("flagged"))
      .orderBy(col("vec_id"))
  }

  /** "All-but-the-top" whitening profile (Mu & Viswanath 2018):
    * embedding clouds are anisotropic — a large common mean plus a
    * few dominant directions carry corpus-frequency artifacts rather
    * than semantics, and removing them measurably improves cosine
    * retrieval. Per vector: center on the corpus mean, project onto
    * the top-k principal components ([[pcaTopK]]'s driver-side
    * solve), and report the centered norm, the residual norm after
    * subtracting those projections, and the k projection coordinates
    * — the before/after anisotropy profile a pipeline reads before
    * deciding to ship whitened vectors.
    *
    * Plan (round-13 optimization, guide §2.4/§2.3): ONE distributed
    * moments pass inside the component solve, then ONE narrow per-row
    * pass over the embedding table. Mean and components are bounded
    * driver-side constants (d and k·d doubles) folded in as array
    * literals, so centering, the k projections, the residual and both
    * norms are per-row array arithmetic — zero joins, zero
    * aggregations, zero exchanges beyond the output sort. The former
    * plan exploded to (vec, i) and re-assembled per-vector values
    * through FIVE row-shuffling aggregates/joins (43 Exchange nodes
    * in the formatted plan) — all of it pairing values that started
    * on the same source row. Every sum is the same exact decimal
    * fold of the same 9dp-staged DECIMAL(12,9) terms (a left fold of
    * exact decimals equals the former order-free aggregate), so the
    * surfaced 6dp values are bit-identical and the oracle SQL is
    * unchanged. */
  def embeddingWhitening(s: SparkSession, dir: String, k: Int = 3,
                         iterations: Int = 6): DataFrame = {
    val (moments, d) = stagedMomentsLocal(s, dir)
    val comps = componentsFromCov(covFromMoments(moments, d), k, iterations)
    val n = moments((d, d)).doubleValue
    // mu_i = s1_i / n — the identical IEEE division the former
    // relational mu computed from the same exact decimal sums
    val mu: Array[Double] = Array.tabulate(d)(i => moments((i, d)).doubleValue / n)
    val cArr: Map[Int, Array[Double]] = (1 to k).map { c =>
      val v = Array.ofDim[Double](d)
      comps.foreach { case (comp, i, loading, _, _) => if (comp == c) v(i) = loading }
      c -> v
    }.toMap
    // exact decimal left-fold of DECIMAL(12,9) staged terms — equals
    // the former sum() aggregate (decimal addition is exact and
    // order-independent). Accumulator precision matters: at (38,9)
    // each `acc + x` would need precision 39 and Spark's
    // precision-loss rule re-scales the result to (38,8), silently
    // rounding away the 9th decimal per step; (28,9) + (12,9) fits in
    // (29,9) losslessly, and 19 integer digits cannot overflow on d
    // staged terms of |x| < 1000.
    def decSum(a: Column): Column =
      aggregate(a, lit(java.math.BigDecimal.ZERO).cast("decimal(28,9)"),
        (acc, x) => (acc + x).cast("decimal(28,9)"))
    val ydArr = zip_with(
      transform(col("v"), x => d9(x).cast("double")), typedLit(mu),
      (x, m) => x - m)
    val pCols = (1 to k).map { c =>
      decSum(zip_with(col("yd"), typedLit(cArr(c)), (y, cx) => d9(y * cx)))
        .cast("double").as(s"p${c}d")
    }
    // z_i = yd_i − (Σ_c d9(p_c·c_ci)) cast to double — the identical
    // staged three-term decimal sum the former (vec, i)-grouped
    // aggregate produced (exact decimal addition, any order)
    val zArr = transform(col("yd"), (y, i) => {
      val sub = (1 to k).map { c =>
        d9(col(s"p${c}d") * get(typedLit(cArr(c)), i))
      }.reduce(_ + _)
      y - sub.cast("double")
    })
    emb(s, dir)
      .filter(col("v").isNotNull && size(col("v")) > 0)
      // spread the per-row decimal-fold work across cores (the output
      // sort re-exchanges anyway, so this adds no net exchange over a
      // single-split input; see stagedMomentsLocal's note)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), ydArr.as("yd"))
      .select(Seq(col("vec_id"), col("yd")) ++ pCols: _*)
      .select(Seq(col("vec_id"),
        sqrt(decSum(transform(col("yd"), y => d9(y * y))).cast("double"))
          .as("norm_before"),
        sqrt(decSum(transform(zArr, z => d9(z * z))).cast("double"))
          .as("norm_after")) ++
        (1 to k).map(c => col(s"p${c}d")): _*)
      .select(Seq(col("vec_id"),
        round(col("norm_before"), 6).as("norm_before"),
        round(col("norm_after"), 6).as("norm_after")) ++
        (1 to k).map(c => round(col(s"p${c}d"), 6).as(s"p$c")): _*)
      .orderBy(col("vec_id"))
  }

  /** [[embeddingWhitening]]'s oracle: the full [[pcaTopKCtes]] chain
    * (identical component vectors), then the same staged centering,
    * projection, and residual passes. */
  private def whiteningOracle(k: Int, iterations: Int): String = {
    def r6(e: String): String = graft.OracleSql.round(e, 6)
    val cmp = (1 to k).map(c =>
      s"SELECT $c AS comp, i, CAST(x AS DOUBLE) AS cx FROM v${c}_$iterations")
      .mkString(" UNION ALL ")
    val pcols = (1 to k).map(c =>
      s"sum(CASE WHEN comp = $c THEN CAST(pj AS DOUBLE) END) AS p$c").mkString(", ")
    s"""WITH ${pcaTopKCtes(k, iterations)},
       |mu AS (SELECT i, CAST(s1 AS DOUBLE) / n AS mud FROM s1 CROSS JOIN nn),
       |cen AS MATERIALIZED (SELECT vec_id, xs.i, CAST(x AS DOUBLE) - mud AS yd
       |       FROM xs JOIN mu ON xs.i = mu.i),
       |cmp AS MATERIALIZED ($cmp),
       |pj AS MATERIALIZED (SELECT vec_id, comp, sum(${rd9("yd * cx")}) AS pj
       |      FROM cen JOIN cmp USING (i) GROUP BY 1, 2),
       |nb AS (SELECT vec_id, sqrt(CAST(sum(${rd9("yd * yd")}) AS DOUBLE)) AS norm_before
       |       FROM cen GROUP BY vec_id),
       |rt AS (SELECT c.vec_id, c.i, max(c.yd) AS yd,
       |              sum(${rd9("CAST(p.pj AS DOUBLE) * m.cx")}) AS sub
       |       FROM cen c JOIN pj p ON c.vec_id = p.vec_id
       |                  JOIN cmp m ON m.comp = p.comp AND m.i = c.i
       |       GROUP BY c.vec_id, c.i),
       |na AS (SELECT vec_id,
       |         sqrt(CAST(sum(${rd9("(yd - CAST(sub AS DOUBLE)) * (yd - CAST(sub AS DOUBLE))")}) AS DOUBLE)) AS norm_after
       |       FROM rt GROUP BY vec_id),
       |pw AS (SELECT vec_id, $pcols FROM pj GROUP BY vec_id)
       |SELECT nb.vec_id, ${r6("norm_before")} AS norm_before,
       |       ${r6("norm_after")} AS norm_after,
       |       ${(1 to k).map(c => s"${r6(s"p$c")} AS p$c").mkString(", ")}
       |FROM nb JOIN na USING (vec_id) JOIN pw USING (vec_id)
       |ORDER BY nb.vec_id""".stripMargin
  }

  private def rd9(e: String): String =
    s"CAST(round(CAST(CAST($e AS VARCHAR) AS DECIMAL(38,18)), 9) AS DECIMAL(12,9))"

  /** The [[pcaTopK]] oracle's CTE body (no WITH, no final SELECT):
    * xs/nn/s1/cov base, per component a full w/n/v iteration chain
    * with deflation CTEs between, ending with `tr` — ONE source for
    * the top-k oracle AND the whitening oracle, which consumes the
    * v{c}_{iters} component vectors, `xs` and the mean ingredients. */
  private def pcaTopKCtes(k: Int, iterations: Int): String = {
    val comps = (1 to k).map { c =>
      val covSrc = if (c == 1) "cov" else s"cov$c"
      val iters = (1 to iterations).map { t =>
        val p = if (t == 1) "v0" else s"v${c}_${t - 1}"
        s"""w${c}_$t AS MATERIALIZED (SELECT m.i, sum(m.c * p.x) AS w FROM $covSrc m JOIN $p p ON m.j = p.i GROUP BY m.i),
           |n${c}_$t AS MATERIALIZED (SELECT sqrt(greatest(CAST(sum(${rd9("CAST(w AS DOUBLE) * CAST(w AS DOUBLE)")}) AS DOUBLE), 1e-24)) AS nrm FROM w${c}_$t),
           |v${c}_$t AS MATERIALIZED (SELECT i, ${rd9("CAST(w AS DOUBLE) / nrm")} AS x FROM w${c}_$t CROSS JOIN n${c}_$t)""".stripMargin
      }.mkString(",\n")
      val defl = if (c < k)
        s""",
           |cov${c + 1} AS MATERIALIZED (SELECT m.i, m.j,
           |  ${rd9(s"CAST(m.c AS DOUBLE) - nrm * CAST(vi.x AS DOUBLE) * CAST(vj.x AS DOUBLE)")} AS c
           |  FROM $covSrc m JOIN v${c}_$iterations vi ON m.i = vi.i
           |  JOIN v${c}_$iterations vj ON m.j = vj.i CROSS JOIN n${c}_$iterations)""".stripMargin
      else ""
      s"$iters$defl"
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ex AS (SELECT vec_id, unnest(range(len(v))) AS i, v FROM e),
       |xs AS MATERIALIZED (SELECT vec_id, i, ${rd9("v[i + 1]")} AS x FROM ex),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
       |s1 AS (SELECT i, sum(x) AS s1 FROM xs GROUP BY i),
       |s2 AS (SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS s2
       |       FROM xs a JOIN xs b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |cov AS MATERIALIZED (SELECT s2.i, s2.j,
       |    ${rd9("CAST(s2 AS DOUBLE) / n - (CAST(si.s1 AS DOUBLE) / n) * (CAST(sj.s1 AS DOUBLE) / n)")} AS c
       |  FROM s2 JOIN s1 si ON s2.i = si.i JOIN s1 sj ON s2.j = sj.i CROSS JOIN nn),
       |v0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1 AS DECIMAL(12,9)) AS x FROM xs),
       |$comps,
       |tr AS (SELECT CAST(sum(c) AS DOUBLE) AS trace FROM cov WHERE i = j)""".stripMargin
  }

  /** Generated-CTE oracle for [[pcaTopK]]: the [[pcaTopKCtes]] chain
    * plus the per-component output union. */
  private def pcaTopKOracle(k: Int, iterations: Int): String = {
    def r6(e: String): String = graft.OracleSql.round(e, 6)
    val sel = (1 to k).map { c =>
      s"""SELECT CAST($c AS INTEGER) AS component, v.i AS dim, CAST(v.x AS DOUBLE) AS loading,
         |  ${r6("nrm")} AS eigenvalue, ${r6("nrm / trace")} AS var_explained
         |FROM v${c}_$iterations v CROSS JOIN n${c}_$iterations CROSS JOIN tr""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${pcaTopKCtes(k, iterations)}
       |SELECT component, dim, loading, eigenvalue, var_explained FROM ($sel)
       |ORDER BY component, dim""".stripMargin
  }

  // ------------------------------------------------------------ registry

  /** DuckDB cosine over `$a.v` / `$b.v` — shared with Retrieval's
    * hybrid fusion oracle. */
  private[ops] def cosSqlFor(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a.v, $b.v), x -> x[1] * x[2])) /
       |    (sqrt(list_sum(list_transform($a.v, x -> x * x))) * sqrt(list_sum(list_transform($b.v, x -> x * x))))""".stripMargin

  private val cosSql = cosSqlFor("q", "c")

  private def R(e: String, n: Int): String = graft.OracleSql.round(e, n)

  /** Sequential-fold cosine over two DOUBLE[] expressions — the same
    * list_sum recipe every hash-checked ANN oracle uses (bit-matches
    * the native [[graft.functions.CosineSim]] fold order). */
  private def lshCos(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) /
       |      (sqrt(list_sum(list_transform($a, x -> x * x))) * sqrt(list_sum(list_transform($b, x -> x * x))))""".stripMargin

  /** DuckDB mirror of the hash-sign LSH bucketing pipeline
    * ([[hyperplanes]] + [[graft.functions.LshBucketSigs]]): emits CTEs
    * ending in `sigs` = (id, t, bucket) over `vecSrc` (an (id, v)
    * CTE), with bits/tables replicating [[autoBits]] (the adaptive-
    * occupancy three-regime dial, floor 2) / [[autoTables]] (floor 8)
    * from `prmSrc`'s cardinality and dims from its shortest vector.
    * The static grid bounds (32 tables × 16 bits × 128 dims, filtered
    * down by the params) cover every gate scale — bits track
    * log₂ n − 6 past the knee (occupancy-pinned at 64), and the
    * power-law table growth stays under 32 until
    * n ≈ 2^24. Signs regenerate via the integer-key fmix64 CTE chain
    * on the same (t·8191+i)·8191+d+1 key the Scala side uses. */
  private def lshSigCtes(prmSrc: String, vecSrc: String): String =
    s"""prm AS (SELECT greatest(2, least(CAST(ceil(log2(count(*))) AS INT) - 2,
       |                 greatest(8, CAST(ceil(log2(count(*))) AS INT) - 6))) AS bits,
       |               (SELECT min(len(v)) FROM $prmSrc) AS dims FROM $prmSrc),
       |prm2 AS (SELECT bits, dims,
       |               greatest(8, CAST(ceil(ln(0.02) / ln(1 - 0.9 ^ bits)) AS INT)) AS tables
       |         FROM prm),
       |g0 AS (SELECT tt.range AS t, ii.range AS i, dd.range AS d,
       |              (tt.range * 8191 + ii.range) * 8191 + dd.range + 1 AS key
       |       FROM range(32) tt, range(16) ii, range(128) dd
       |       WHERE tt.range < (SELECT tables FROM prm2)
       |         AND ii.range < (SELECT bits FROM prm2)
       |         AND dd.range < (SELECT dims FROM prm2)),
       |${graft.OracleSql.fmix64Ctes("g0", "key", out = "h", p = "lfx")},
       |sgn AS (SELECT t, i,
       |              list(CASE WHEN h >= 0 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END
       |                   ORDER BY d) AS s
       |        FROM lfx GROUP BY t, i),
       |bitv AS (SELECT c.id, g.t, g.i,
       |               CASE WHEN list_sum(list_transform(list_zip(c.v, g.s), x -> x[1] * x[2])) >= 0
       |                    THEN CAST(1 AS BIGINT) << g.i ELSE CAST(0 AS BIGINT) END AS bit
       |         FROM $vecSrc c CROSS JOIN sgn g),
       |sigs AS (SELECT id, t, CAST(sum(bit) AS BIGINT) AS bucket FROM bitv GROUP BY id, t)""".stripMargin

  /** Mirror of the engine's Hamming pre-verify over [[lshSigCtes]]'
    * output: CTEs ending in `pre` = the candidate pairs whose packed-
    * signature Hamming distance is within [[hamCutFor]]'s cutoff.
    * The cutoff inlines as a CASE over every bits value the adaptive
    * dial can produce — each branch an INTEGER computed by the same
    * Scala function the engine used, so no transcendental evaluates
    * in SQL and the two engines drop identical pairs. Expects a
    * `cand` CTE of (id_a, id_b). */
  private def hamPreCtes(threshold: Double, vecSrc: String = "e"): String = {
    val cases = (2 to 16)
      .map(b => s"WHEN $b THEN ${hamCutFor(threshold, b, autoTables(b))}")
      .mkString(" ")
    hamPreTail(s"CASE bits $cases END", vecSrc)
  }

  /** [[hamPreCtes]] for the AUTO-thresholded registered row: first
    * mirrors [[noiseFloorTauK]] as CTEs `tauk`/`tau` (the quantized
    * grid index k and τ = k/20 — the only transcendental seam is
    * WHICH integer k the ceil picks, flippable solely when the raw
    * floor lands exactly on a grid point), then inlines the Hamming
    * cutoff as a two-level integer CASE over (k, bits) — every branch
    * computed by the same Scala [[hamCutFor]]/[[autoTables]] the
    * engine used, so no acos ever evaluates in SQL. */
  private def hamPreCtesAuto(vecSrc: String = "e"): String = {
    val kCases = (8 to 19).map { k =>
      val inner = (2 to 16)
        .map(b => s"WHEN $b THEN ${hamCutFor(k / 20.0, b, autoTables(b))}")
        .mkString(" ")
      s"WHEN $k THEN (CASE bits $inner END)"
    }.mkString("\n       ")
    s"""tauk AS (SELECT least(19, CAST(ceil(greatest(0.4,
       |           sqrt(2 * ln(greatest(count(*), 3) / 2.0)) /
       |           sqrt((SELECT min(len(v)) FROM $vecSrc))) * 20) AS INT)) AS k
       |         FROM $vecSrc),
       |tau AS (SELECT k, CAST(k AS DOUBLE) / 20.0 AS t FROM tauk),
       |${hamPreTail(s"CASE (SELECT k FROM tau)\n       $kCases END", vecSrc)}""".stripMargin
  }

  /** Shared tail of the Hamming pre-verify oracle: the packed
    * signatures, the cutoff (an integer expression over `prm2`), and
    * the gated candidate filter. */
  private def hamPreTail(cutExpr: String, vecSrc: String): String =
    s"""sigp AS (SELECT id, list(bucket ORDER BY t) AS sg FROM sigs GROUP BY id),
       |hcut AS (SELECT $cutExpr AS cut, tables * bits AS totbits FROM prm2),
       |pre AS (SELECT c.id_a, c.id_b FROM cand c
       |        JOIN sigp sa ON sa.id = c.id_a
       |        JOIN sigp sb ON sb.id = c.id_b
       |        WHERE (SELECT count(*) FROM $vecSrc) < 16384
       |           OR (SELECT cut >= totbits FROM hcut)
       |           OR list_sum(list_transform(list_zip(sa.sg, sb.sg),
       |                x -> bit_count(xor(x[1], x[2])))) <= (SELECT cut FROM hcut))""".stripMargin

  /** Shared by `ann_ivf_append` (batch) and `ann_ivf_append_streaming`
    * (micro-batch deltas): both grow the same cell-partitioned index
    * against the base-slice-frozen seed geometry, so one oracle checks
    * both intake paths. */
  private lazy val ivfAppendOracleSql: String = {
    def cos(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) /
         |      (sqrt(list_sum(list_transform($a, x -> x * x))) * sqrt(list_sum(list_transform($b, x -> x * x))))""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |corpus AS (SELECT * FROM e WHERE vec_id >= 5),
       |base AS (SELECT * FROM corpus WHERE vec_id < 400),
       |${graft.OracleSql.m61FmixScalarCtes("base", "CAST(vec_id AS VARCHAR)", p = "sh")},
       |seeds AS (SELECT vec_id AS cell, v AS cv FROM sh
       |          ORDER BY h & 9223372036854775807, vec_id LIMIT 8),
       |assigned AS (
       |  SELECT neighbor_id, nv, cell FROM (
       |    SELECT c.vec_id AS neighbor_id, c.v AS nv, s.cell,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${cos("c.v", "s.cv")} DESC, s.cell) AS crnk
       |    FROM corpus c CROSS JOIN seeds s)
       |  WHERE crnk = 1),
       |probes AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, s.cell,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.v", "s.cv")} DESC, s.cell) AS crnk
       |    FROM e q CROSS JOIN seeds s WHERE q.vec_id < 5)
       |  WHERE crnk <= 2),
       |scored AS (SELECT query_id, neighbor_id, ${cos("p.qv", "a.nv")} AS sim
       |           FROM assigned a JOIN probes p USING (cell)),
       |ranked AS (SELECT query_id, neighbor_id, sim,
       |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
       |           FROM scored)
       |SELECT query_id, neighbor_id, ${R("sim", 6)} AS sim, rnk FROM ranked
       |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "embedding_pca_power" -> QueryDef((s, d) => pcaPower(s, d),
      Some(pcaPowerOracle(6))),
    "embedding_pca_topk" -> QueryDef((s, d) => pcaTopK(s, d),
      Some(pcaTopKOracle(3, 6))),
    // All-but-the-top anisotropy profile over the same component
    // solve — the whitening decision's before/after evidence.
    "embedding_whitening" -> QueryDef((s, d) => embeddingWhitening(s, d),
      Some(whiteningOracle(3, 6))),
    // Semantic leg of the decontamination family: max cosine vs the
    // broadcast eval vectors, the leakage paraphrase-robust n-grams
    // still miss.
    "decontamination_semantic" -> QueryDef((s, d) => semanticDecontamination(s, d),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 20),
         |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 20),
         |sc AS (SELECT c.vec_id, max(${R(lshCos("q.v", "c.v"), 6)}) AS max_eval_cos
         |       FROM c CROSS JOIN q GROUP BY c.vec_id)
         |SELECT vec_id, max_eval_cos, max_eval_cos >= 0.9 AS flagged
         |FROM sc ORDER BY vec_id""".stripMargin)),
    "ann_brute_topk" -> QueryDef((s, d) => bruteForceTopK(s, d), Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS sim
         |  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id >= 5),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, ${R("sim", 6)} AS sim, rnk FROM ranked
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),
    "vector_norms_sql" -> QueryDef((s, d) => vectorNormsSql(s, d), Some(
      s"""SELECT vec_id, label,
         |  ${R("sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))", 6)} AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin)),
    "vector_norms" -> QueryDef(vectorNorms, Some(
      s"""SELECT vec_id, label,
         |  ${R("sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))", 6)} AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin)),
    "label_norm_stats" -> QueryDef(labelNormStats, Some(
      s"""WITH n AS (SELECT label,
         |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS norm
         |  FROM embeddings)
         |SELECT label, count(*) AS n_vecs,
         |  ${R("min(norm)", 6)} AS min_norm, ${R("max(norm)", 6)} AS max_norm
         |FROM n GROUP BY label ORDER BY label""".stripMargin)),
    "embedding_quantize_stats" -> QueryDef(quantizeStats, Some(
      s"""$quantCte
         |SELECT vec_id, ${R("scale", 9)} AS scale,
         |  list_min(q) AS q_min, list_max(q) AS q_max,
         |  CAST(list_sum(q) AS BIGINT) AS q_sum
         |FROM qz ORDER BY vec_id""".stripMargin)),
    "ann_quantized_topk" -> QueryDef((s, d) => quantizedTopK(s, d), Some(
      s"""$quantCte,
         |dq AS (SELECT vec_id, list_transform(q, x -> CAST(x AS DOUBLE) * scale) AS v FROM qz),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS sim
         |  FROM dq q JOIN dq c ON q.vec_id < 5 AND c.vec_id >= 5),
         |ranked AS (
         |  SELECT query_id, neighbor_id, sim,
         |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, ${R("sim", 6)} AS sim, rnk FROM ranked
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),
    // Fully oracle-checked since the hyperplanes became hash-derived
    // ±1 signs (see [[hyperplanes]]): the oracle regenerates the same
    // sign matrix with fmix64 HUGEINT arithmetic, rebuilds every
    // (table, bucket) signature, and re-verifies candidates with the
    // exact cosine — recall vs brute force additionally asserted in
    // SimilaritySpec on planted clusters.
    "ann_lsh_topk" -> QueryDef((s, d) => lshTopK(s, d), Some(
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |corp AS (SELECT * FROM e WHERE id >= 5),
         |${lshSigCtes(prmSrc = "corp", vecSrc = "e")},
         |cand AS (SELECT DISTINCT sq.id AS query_id, sc.id AS neighbor_id
         |         FROM sigs sc JOIN sigs sq ON sc.t = sq.t AND sc.bucket = sq.bucket
         |         WHERE sc.id >= 5 AND sq.id < 5),
         |scored AS (SELECT query_id, neighbor_id, ${lshCos("eq.v", "ec.v")} AS sim
         |           FROM cand JOIN e eq ON eq.id = query_id JOIN e ec ON ec.id = neighbor_id),
         |ranked AS (SELECT query_id, neighbor_id, sim,
         |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |           FROM scored)
         |SELECT query_id, neighbor_id, ${R("sim", 6)} AS sim, rnk FROM ranked
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin)),
    // AUTO-thresholded at the noiseFloorTau(d, n) grid value (τ = 0.45
    // at sf0.01's 500 vectors, 0.5 at sf0.1's 2000): a fixed τ makes
    // the OUTPUT itself quadratic in n on unrelated vectors — the
    // round-9 verdict's scale-honesty item — while the floor keeps the
    // expected noise mass (sub)linear by construction. The oracle
    // re-derives the same quantized τ and the same (k, bits)-inlined
    // Hamming cutoffs.
    "embedding_neardup_pairs" -> QueryDef((s, d) => neardupPairs(s, d), Some(
      s"""WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${lshSigCtes(prmSrc = "e", vecSrc = "e")},
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM sigs a JOIN sigs b ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
         |${hamPreCtesAuto()},
         |pr AS (SELECT c.id_a, c.id_b, ${lshCos("ea.v", "eb.v")} AS sim
         |       FROM pre c JOIN e ea ON ea.id = c.id_a JOIN e eb ON eb.id = c.id_b)
         |SELECT id_a, id_b, ${R("sim", 6)} AS sim FROM pr
         |WHERE sim >= (SELECT t FROM tau) ORDER BY id_a, id_b""".stripMargin)),
    "ann_truncation_recall" -> QueryDef((s, d) => truncationRecall(s, d), Some(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id >= 5),
         |sc AS (SELECT q.query_id, c.neighbor_id,
         |         ${lshCos("q.qv", "c.cv")} AS sim_full,
         |         ${lshCos("q.qv[1:16]", "c.cv[1:16]")} AS sim_trunc
         |       FROM c CROSS JOIN q),
         |tf AS (SELECT query_id, neighbor_id FROM (
         |         SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY sim_full DESC, neighbor_id) AS r
         |         FROM sc) WHERE r <= 10),
         |tt AS (SELECT query_id, neighbor_id FROM (
         |         SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY sim_trunc DESC, neighbor_id) AS r
         |         FROM sc) WHERE r <= 10),
         |ov AS (SELECT query_id, count(*) AS n_overlap
         |       FROM tf JOIN tt USING (query_id, neighbor_id) GROUP BY query_id)
         |SELECT q.query_id, CAST(10 AS BIGINT) AS k,
         |  coalesce(ov.n_overlap, 0) AS n_overlap,
         |  ${R("coalesce(ov.n_overlap, 0) / 10.0", 4)} AS recall
         |FROM (SELECT DISTINCT query_id FROM q) q LEFT JOIN ov USING (query_id)
         |ORDER BY query_id""".stripMargin)),
    "contrastive_pairs" -> QueryDef((s, d) => contrastivePairs(s, d), Some(
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS q_label, v FROM e WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, label AS n_label, v FROM e WHERE vec_id >= 20),
         |sc AS (SELECT q.query_id, q.q_label, c.neighbor_id, c.n_label,
         |         ${cosSqlFor("q", "c")} AS sim
         |       FROM c CROSS JOIN q),
         |neg AS (SELECT query_id, q_label AS label, neighbor_id AS hard_neg_id, sim,
         |          row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS r
         |        FROM sc WHERE n_label <> q_label),
         |pos AS (SELECT query_id, neighbor_id AS hard_pos_id, sim,
         |          row_number() OVER (PARTITION BY query_id ORDER BY sim, neighbor_id) AS r
         |        FROM sc WHERE n_label = q_label)
         |SELECT n.query_id, n.label, n.hard_neg_id, ${R("n.sim", 6)} AS hard_neg_sim,
         |       p.hard_pos_id, ${R("p.sim", 6)} AS hard_pos_sim
         |FROM neg n JOIN pos p ON n.query_id = p.query_id AND n.r = 1 AND p.r = 1
         |ORDER BY n.query_id""".stripMargin)),
    // DBSCAN over the mirrored LSH ε-graph; components via the shared
    // recursive reachability-min chain (ccFromPairsSql reads a CTE
    // literally named `pairs`, so here `pairs` IS the core-core
    // subgraph and the raw ε-graph is `epairs`).
    "embedding_dbscan" -> QueryDef((s, d) => dbscanClusters(s, d), Some(
      s"""WITH RECURSIVE e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${lshSigCtes(prmSrc = "e", vecSrc = "e")},
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM sigs a JOIN sigs b ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
         |${hamPreCtes(0.25)},
         |epairs AS (SELECT c.id_a, c.id_b
         |       FROM pre c JOIN e ea ON ea.id = c.id_a JOIN e eb ON eb.id = c.id_b
         |       WHERE ${lshCos("ea.v", "eb.v")} >= 0.25),
         |adj AS (SELECT id_a AS id, id_b AS nb FROM epairs
         |        UNION ALL SELECT id_b, id_a FROM epairs),
         |core AS (SELECT id FROM adj GROUP BY id HAVING count(*) >= 3),
         |pairs AS (SELECT id_a AS doc_a, id_b AS doc_b FROM epairs
         |          SEMI JOIN core ca ON id_a = ca.id
         |          SEMI JOIN core cb ON id_b = cb.id),
         |${Dedup.ccFromPairsSql},
         |iso AS (SELECT id FROM core ANTI JOIN labels ON core.id = labels.doc_id),
         |clabels AS (SELECT doc_id, cluster_id FROM labels
         |            UNION ALL SELECT id, id FROM iso),
         |bord AS (SELECT a.id, min(cl.cluster_id) AS cluster_id
         |         FROM adj a ANTI JOIN core ON a.id = core.id
         |         JOIN clabels cl ON a.nb = cl.doc_id
         |         GROUP BY a.id)
         |SELECT em.vec_id,
         |  coalesce(c.cluster_id, b.cluster_id, -1) AS cluster_id,
         |  CASE WHEN c.doc_id IS NOT NULL THEN 'core'
         |       WHEN b.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role
         |FROM embeddings em
         |LEFT JOIN clabels c ON em.vec_id = c.doc_id
         |LEFT JOIN bord b ON em.vec_id = b.id
         |ORDER BY em.vec_id""".stripMargin)),
    "ann_ivf_seeded" -> QueryDef((s, d) => seededIvfTopK(s, d), Some({
      def cos(a: String, b: String) =
        s"""list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) /
           |      (sqrt(list_sum(list_transform($a, x -> x * x))) * sqrt(list_sum(list_transform($b, x -> x * x))))""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |corpus AS (SELECT * FROM e WHERE vec_id >= 5),
         |${graft.OracleSql.m61FmixScalarCtes("corpus", "CAST(vec_id AS VARCHAR)", p = "sh")},
         |seeds AS (SELECT vec_id AS cell, v AS cv FROM sh
         |          ORDER BY h & 9223372036854775807, vec_id LIMIT 8),
         |assigned AS (
         |  SELECT neighbor_id, nv, cell FROM (
         |    SELECT c.vec_id AS neighbor_id, c.v AS nv, s.cell,
         |      row_number() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.v", "s.cv")} DESC, s.cell) AS crnk
         |    FROM corpus c CROSS JOIN seeds s)
         |  WHERE crnk = 1),
         |probes AS (
         |  SELECT query_id, qv, cell FROM (
         |    SELECT q.vec_id AS query_id, q.v AS qv, s.cell,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cos("q.v", "s.cv")} DESC, s.cell) AS crnk
         |    FROM e q CROSS JOIN seeds s WHERE q.vec_id < 5)
         |  WHERE crnk <= 2),
         |scored AS (SELECT query_id, neighbor_id, ${cos("p.qv", "a.nv")} AS sim
         |           FROM assigned a JOIN probes p USING (cell)),
         |ranked AS (SELECT query_id, neighbor_id, sim,
         |             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
         |           FROM scored)
         |SELECT query_id, neighbor_id, ${R("sim", 6)} AS sim, rnk FROM ranked
         |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin
    })),
    // [[seededIvfTopK]]'s oracle with the seed source narrowed to the
    // base slice — the frozen-geometry contract: appended vectors are
    // assigned and scored, but never move the cells.
    "ann_ivf_append" -> QueryDef((s, d) => seededIvfAppendQuery(s, d),
      Some(ivfAppendOracleSql)),
    // the micro-batch intake twin builds the IDENTICAL index content
    // (frozen geometry, batchId-keyed deltas), so it shares the oracle
    "ann_ivf_append_streaming" -> QueryDef(
      (s, d) => seededIvfAppendStreaming(s, d), Some(ivfAppendOracleSql)),
    "embedding_cluster_assign" -> QueryDef((s, d) => clusterAssign(s, d), Some(
      s"""WITH ${clusterAssignSimCtes(8)}
         |SELECT vec_id, centroid_id, sim FROM casg ORDER BY vec_id""".stripMargin)),
    "embedding_semantic_dedup" -> QueryDef((s, d) => semanticDedup(s, d), Some(
      s"""WITH $semanticAvCtes,
         |pruned AS (SELECT DISTINCT doc_b AS vec_id FROM ($semanticPairSelect))
         |SELECT vec_id, centroid_id FROM av ANTI JOIN pruned p ON av.vec_id = p.vec_id
         |ORDER BY vec_id""".stripMargin)))

  /** Nearest-centroid assignment WITH the rounded similarity (no
    * WITH; final CTE `casg` = (vec_id, centroid_id, sim)) — the SQL
    * mirror of [[clusterAssignOn]], shared by the
    * `embedding_cluster_assign` oracle and the semantic-packing
    * oracle in [[graft.ops.Pipelines]]. */
  private[ops] def clusterAssignSimCtes(k: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${graft.OracleSql.m61FmixScalarCtes("e", "CAST(vec_id AS VARCHAR)", p = "sh")},
       |seeds AS (SELECT vec_id AS centroid_id, v AS cv FROM sh
       |          ORDER BY h & 9223372036854775807, vec_id LIMIT $k),
       |casc AS (
       |  SELECT e.vec_id, s.centroid_id,
       |    list_sum(list_transform(list_zip(e.v, s.cv), x -> x[1] * x[2])) /
       |      (sqrt(list_sum(list_transform(e.v, x -> x * x))) * sqrt(list_sum(list_transform(s.cv, x -> x * x)))) AS sim
       |  FROM e CROSS JOIN seeds s),
       |casr AS (
       |  SELECT vec_id, centroid_id, sim,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) AS rnk
       |  FROM casc),
       |casg AS (SELECT vec_id, centroid_id, ${R("sim", 6)} AS sim FROM casr WHERE rnk = 1)""".stripMargin

  /** Semantic-clustering CTE chain (no WITH; final CTE `av` =
    * (vec_id, v, centroid_id)) and the within-cell above-threshold
    * pair SELECT over it — ONE source shared by the
    * `embedding_semantic_dedup` oracle and the multi-signal cluster
    * oracle in [[graft.ops.Dedup]]. */
  private[ops] lazy val semanticAvCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${graft.OracleSql.m61FmixScalarCtes("e", "CAST(vec_id AS VARCHAR)", p = "sh")},
       |seeds AS (SELECT vec_id AS centroid_id, v AS cv FROM sh
       |          ORDER BY h & 9223372036854775807, vec_id LIMIT 8),
       |ranked AS (
       |  SELECT vec_id, centroid_id,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY
       |           list_sum(list_transform(list_zip(e.v, s.cv), x -> x[1] * x[2])) /
       |             (sqrt(list_sum(list_transform(e.v, x -> x * x))) * sqrt(list_sum(list_transform(s.cv, x -> x * x)))) DESC,
       |           centroid_id) AS rnk
       |  FROM e CROSS JOIN seeds s),
       |av AS (SELECT e.vec_id, e.v, r.centroid_id
       |       FROM e JOIN (SELECT vec_id, centroid_id FROM ranked WHERE rnk = 1) r USING (vec_id))""".stripMargin

  private[ops] lazy val semanticPairSelect: String =
    """SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      |           FROM av a JOIN av b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
      |           WHERE list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])) /
      |                   (sqrt(list_sum(list_transform(a.v, x -> x * x))) * sqrt(list_sum(list_transform(b.v, x -> x * x)))) > 0.45""".stripMargin

  /** Quantization CTEs mirroring [[withQuantized]] operation-for-
    * operation: same (x·127.0)/maxabs order, same floor-half-up, same
    * zero-vector guard — what makes the int8 path bit-exact
    * cross-engine. */
  private lazy val quantCte: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
      |qz AS (SELECT vec_id, maxabs / 127.0 AS scale,
      |         CASE WHEN maxabs = 0 THEN list_transform(v, x -> 0)
      |              ELSE list_transform(v, x -> CAST(floor(x * 127.0 / maxabs + 0.5) AS INTEGER)) END AS q
      |       FROM m)""".stripMargin
}
